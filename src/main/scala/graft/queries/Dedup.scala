package graft.queries

import graft.{QueryDef, Quant, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parameters of the exact substring-dedup pair (dd_substring_spans /
  * dd_substring_trim), validated at construction — the
  * SequencePatternConfig convention: a bad config fails eagerly at
  * the call site, never as a silent plan-level surprise.
  *
  * @param k minimal repeated-window width, in TOKENS of the chosen
  *   granularity (Lee et al. ACL'22 use 50 BPE tokens; the default
  *   word-granularity instantiation uses 20 because fixture docs are
  *   10–99 words)
  * @param granularity `word` (whitespace tokens) or `bpe` (true BPE
  *   symbols via the sentinel-coded replace-chain tokenizer)
  */
final case class SubstringDedupConfig(
    k: Int,
    granularity: String = "word") {
  require(k >= 2, s"window width k must be >= 2, got $k")
  require(granularity == "word" || granularity == "bpe",
    s"granularity must be 'word' or 'bpe', got '$granularity'")
}

object SubstringDedupConfig {
  /** The registered dd_substring_spans / dd_substring_trim setting. */
  val Default: SubstringDedupConfig = SubstringDedupConfig(20, "word")

  /** The canonical Lee et al. setting: 50 BPE tokens
    * (dd_substring_spans_bpe).
    */
  val Bpe: SubstringDedupConfig = SubstringDedupConfig(50, "bpe")
}

/** Deduplication operators over `documents` / `embeddings`: exact
  * (hash-groupBy), normalized-exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup — the standard LLM-corpus
  * dedup toolbox.
  *
  * Scale notes (100 TB):
  *  - exact dedup is a single hash aggregation on the content key —
  *    shuffle carries (hash, min-id, count) only;
  *  - the Jaccard inverted index joins on shingle, so a pathologically
  *    hot shingle would skew — production would drop top-frequency
  *    shingles or salt; at fixture scale it is exact;
  *  - MinHash/LSH is the scale path: 128-hash signatures (1 KB/doc)
  *    replace shingle sets; candidates come from 32-band bucket joins
  *    and only candidates are verified with exact Jaccard. With r=4,
  *    b=32 the miss probability at j=0.8 is (1-0.8^4)^32 ≈ 3e-9, so
  *    LSH output equals the exact-Jaccard oracle at the 0.5 threshold
  *    (nearest real pairs are at j≈0.9+).
  */
object Dedup {

  private val ShingleK = 3
  private val SpanW = 8 // dd_span_dupes window width (tokens)
  // dd_substring_spans minimal repeated-span width (oracle SQL
  // interpolates this; the operator reads it via the Default config)
  private val SpanK = SubstringDedupConfig.Default.k
  // dd_containment threshold: production uses ~0.8 on real crawl text;
  // the synthetic fixture's non-identical overlaps top out near 0.35,
  // so the exercised threshold sits below that (the plan is identical
  // at any t — only the final filter selectivity moves)
  private val ContainT = 0.2
  private val NumPerms = 128
  private val BandRows = 4 // 32 bands x 4 rows

  private def docShingles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.WordShingles(col("text"), ShingleK)).as("g"))

  /** The exploded (doc_id, shingle) rows are the input to four separate
    * branches of the jaccard build (sizes, hot-set, both join sides)
    * and to MinHash candidate verification — without materialization
    * each branch re-scans the corpus and re-shingles. A production
    * dedup run builds this index once; mirroring that, the rows are
    * cached per (session, dir) alongside [[jaccardCache]].
    */
  private val shingleCache = new graft.SessionCache[DataFrame]

  private def cachedShingles(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(s, dir)(docShingles(s, dir).cache())

  /** Exact dedup: one survivor (min doc_id) per identical text. */
  private def exact(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  private val exactSql =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** Exact dedup on whitespace/case-normalized text. */
  private def exactNorm(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy(regexp_replace(lower(col("text")), "\\s+", " ").as("norm"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  private val exactNormSql =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY regexp_replace(lower(text), '\s+', ' ', 'g')
      |ORDER BY keep_id""".stripMargin

  /** All-pairs Jaccard >= 0.5 over distinct 3-word shingles, via an
    * inverted-index join (no O(n²) cross join).
    *
    * Skew bound: a shingle appearing in d documents fans out d²/2 join
    * rows, so one pathologically hot shingle (boilerplate, license
    * headers) dominates the join at corpus scale — the index therefore
    * drops shingles with document frequency > MaxShingleDf before
    * pairing. Exactness contract: a dropped shingle can only lower a
    * pair's intersection count, and at j >= 0.5 a missed pair would
    * need the majority of its shingles in >MaxShingleDf documents —
    * i.e. the pair is itself boilerplate replicated 64+ times, which
    * exact dedup already catches. The fixture's hottest shingle is
    * df=25 (sf0.1), so fixture output is unchanged vs the uncapped
    * index (oracle-verified).
    */
  private val MaxShingleDf = 64

  /** ALL scored candidate pairs (every pair sharing a df-capped
    * shingle, with n_inter/n_union/jaccard), cached per session — the
    * one corpus-wide shuffle behind BOTH the near-dup screen
    * (`dd_ngram_jaccard`, a >= 0.5 filter on top) and the
    * threshold-tuning histogram (`dd_jaccard_histogram`, a bucket
    * aggregate on top): one index, many consumers.
    */
  private val scoredPairsCache = new graft.SessionCache[DataFrame]

  private[graft] def cachedScoredPairs(s: SparkSession, dir: String): DataFrame =
    scoredPairsCache.getOrElseUpdate(s, dir) {
      // Per-doc shingle-set sizes come straight off the shingle array —
      // a narrow scan, no explode/shuffle. One (id, n) row per doc: AQE
      // broadcasts it at fixture scale; at corpus scale it key-shuffles
      // against the (much smaller) candidate pair set.
      val sizes = Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.WordShingles(col("text"), ShingleK).as("gs"))
        .filter(size(col("gs")) > 0)
        .select(col("doc_id"), size(col("gs")).as("n"))
      // One corpus-wide shuffle: group the inverted index by shingle and
      // emit the bucket's doc pairs directly from the grouped list. The
      // df cap is the same filter as before (buckets above MaxShingleDf
      // are dropped whole); each doc appears once per bucket (shingles
      // are distinct within a doc), and pairs are (lo, hi)-normalized by
      // value, so bucket order never shows in the output.
      val pairs = cachedShingles(s, dir)
        .groupBy(col("g")).agg(collect_list(col("doc_id")).as("ds"))
        .filter(size(col("ds")).between(2, MaxShingleDf))
        .select(explode(flatten(transform(col("ds"), a =>
          transform(filter(col("ds"), b => b > a),
            b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"))
      pairs
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
        .withColumn("jaccard",
          col("n_inter").cast("double") / col("n_union"))
        .cache()
    }

  private def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    cachedScoredPairs(s, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Shared oracle for the two shingle-Jaccard queries: DuckDB computes
    * exact all-pairs Jaccard over the same distinct 3-shingles.
    */
  private val jaccardSql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_inter,
      |  sa.n + sb.n - n_inter AS n_union,
      |  CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
      |FROM inter
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** MODALITY-AGREEMENT diagnostic: do the TEXT near-dup screen
    * (3-shingle Jaccard ≥ 0.5, [[ngramJaccard]]) and the EMBEDDING
    * near-dup screen (cosine ≥ 0.45, [[embeddingNearDup]]) flag the
    * same pairs? The cross-validation a curation pipeline runs before
    * trusting either modality alone: low agreement means the
    * embedding space and the lexical space disagree about what
    * "duplicate" means on this corpus, and the thresholds (or the
    * encoder) need a second look. Joins on the fixture's
    * vec_id == doc_id alignment. One row: pair counts per modality,
    * the intersection, and the pair-set Jaccard (qdec — a rational of
    * exact counts).
    *
    * Scale shape: both pair sets are candidate-bounded (shingle
    * buckets / centroid buckets — never corpus²); the intersection is
    * one pair-keyed join between them, and the three aggregates are
    * single-row broadcasts. Nothing corpus-sized moves.
    */
  private def modalityAgreement(s: SparkSession, dir: String): DataFrame = {
    val txt = cachedJaccard(s, dir).select(col("doc_a").as("id_a"),
      col("doc_b").as("id_b"))
    val emb = embeddingNearDup(s, dir).select(col("id_a"), col("id_b"))
    val nT = txt.agg(count(lit(1)).as("n_text"))
    val nE = emb.agg(count(lit(1)).as("n_emb"))
    val nB = txt.join(emb, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_both"))
    // Guard the empty-union case: an all-unique corpus has zero pairs
    // in BOTH screens, and 0/0 is NaN in Spark while DuckDB's double
    // division semantics differ by version — pin both engines to NULL.
    val union = col("n_text") + col("n_emb") - col("n_both")
    nT.crossJoin(nE).crossJoin(nB)
      .withColumn("agreement",
        when(union === 0, lit(null).cast("double"))
          .otherwise(graft.Quant.qdec(
            col("n_both").cast("double") / union, 9)))
  }

  private lazy val modalityAgreementSql =
    s"""WITH t AS ($jaccardSql),
       |e AS ($embeddingNearDupSql),
       |counts AS (
       |  SELECT (SELECT count(*) FROM t) AS n_text,
       |    (SELECT count(*) FROM e) AS n_emb,
       |    (SELECT count(*) FROM t JOIN e
       |      ON t.doc_a = e.id_a AND t.doc_b = e.id_b) AS n_both)
       |SELECT n_text, n_emb, n_both,
       |  CASE WHEN n_text + n_emb - n_both = 0 THEN NULL
       |    ELSE floor(CAST(n_both AS DOUBLE) / (n_text + n_emb - n_both)
       |      * 1e9 + 0.5) / 1e9 END AS agreement
       |FROM counts""".stripMargin

  /** b-bit minhash (Li & König 2010): the storage-compression play —
    * keep only the LOWEST BIT of each of 63 min-hashes, so a doc's
    * whole sketch is ONE BIGINT (8 bytes vs the 1 KB full signature;
    * at 100 TB / 10^11 docs that is 0.8 TB of sketches vs 100 TB).
    * Resemblance is then estimated from the packed words alone:
    * p̂ = matched_bits/63 and Ĵ = 2·p̂ − 1 (for b=1 an unrelated pair
    * still agrees on half its bits, so the estimator rescales).
    * `j_bbit_corrected` additionally applies the full Li-König Eq. 3
    * density correction Ĵ = (p̂ − C₁)/(1 − C₂) with
    * Aᵢ = (1−rᵢ)/(2−rᵢ) (the b=1 closed form) and rᵢ = |Sᵢ|/2^40 —
    * the density of each shingle set in the IMPLEMENTATION universe,
    * which for hash-value sketches is the hash range, not the corpus
    * vocabulary. At these densities (r ≈ 10⁻⁹) the correction shifts
    * Ĵ by ~r/2 ≈ 10⁻¹⁰ — rendered at 12 decimals so it stays
    * observable, PROVING the simplified estimator's validity
    * numerically (the bias a denser universe would inflict is shown
    * to be negligible here) instead of assuming it. The residual
    * mean |err| (~0.04) is binomial
    * VARIANCE from k=63 bits (sd(Ĵ) = 2·sqrt(p̂(1−p̂)/63), up to
    * 0.126), which no bias correction can remove — only more bits or
    * the full signature can. Candidates come from 4 arithmetic band
    * keys over
    * the FULL mins — banding needs the full values (1-bit bands have
    * ~50% noise collisions); compression is for storage + estimation,
    * which is exactly how production systems split the two roles.
    *
    * Everything is PORTABLE integer arithmetic so the oracle replays
    * it exactly: one md5 per shingle, h1 = first 15 hex digits
    * (60 bits), h2 = 13 digits from position 17 (52 bits), and the
    * i-th permutation is (h1 + i·h2) mod 2^40 — the low 40 bits
    * (Kirsch-Mitzenmacher double hashing; the sum stays < 2^61 so no
    * overflow, and the MOD is what decorrelates the permutations:
    * without it every min is won by the same smallest-h1 shingle and
    * the 63 bits collapse to one). Plan shape: the shingle rows
    * partial-aggregate into 64 per-doc mins (one shuffle of 5 k
    * groups × 64 longs), the band self-join touches 4 keys/doc, and
    * exact-Jaccard verification runs on candidates only.
    */
  private val BbitPerms = 63 // bits 0..62: DuckDB errors on 1 << 63
  private val BbitBandKeys = 4 // 4 bands x 4 full mins, 15 bits each

  private def bbitMinhash(s: SparkSession, dir: String): DataFrame = {
    val sh = cachedShingles(s, dir)
      .withColumn("h", md5(col("g").cast("binary")))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(col("h"), 17, 13), 16, 10).cast("long").as("h2"))
    val mask40 = lit((1L << 40) - 1)
    val mins = sh.groupBy(col("doc_id"))
      .agg(min(col("h1").bitwiseAND(mask40)).as("m0"),
        (1 until BbitPerms).map(i =>
          min((col("h1") + lit(i.toLong) * col("h2")).bitwiseAND(mask40))
            .as(s"m$i")): _*)
    val sig = (0 until BbitPerms)
      .map(i => shiftleft(col(s"m$i").bitwiseAND(lit(1L)), i))
      .reduce(_ bitwiseOR _)
    val bandKey = (b: Int) => (0 until 4)
      .map(j => shiftleft(col(s"m${4 * b + j}") % 32768L, 15 * j))
      .reduce(_ bitwiseOR _)
    val sigs = mins.select(col("doc_id"), sig.as("sig"),
      array((0 until BbitBandKeys).map(bandKey): _*).as("keys"))
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(col("keys")).as(Seq("band", "key")))
    val candidates = bands
      .select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
        col("band"), col("key"))
      .join(bands.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("band"), col("key")), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("matched_bits",
        lit(BbitPerms.toLong) -
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .withColumn("j_bbit", Quant.qdec(
        lit(2.0) * col("matched_bits") / BbitPerms - 1.0, 9))
    val sets = cachedShingles(s, dir).groupBy(col("doc_id"))
      .agg(collect_set(col("g")).as("gs"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("gs").as("ga")),
        "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("gs").as("gb")),
        "doc_b")
      .withColumn("n_inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("j_exact", Quant.qdec(col("n_inter").cast("double") /
        (size(col("ga")) + size(col("gb")) - col("n_inter")), 9))
      .withColumn("j_bbit_corrected", {
        // Li-König Eq. 3, b=1 closed form — the expression TREE must
        // mirror the oracle exactly (same IEEE ops in the same order)
        val d = lit(1099511627776.0) // 2^40, the hash universe
        val r1 = size(col("ga")).cast("double") / d
        val r2 = size(col("gb")).cast("double") / d
        val a1 = (lit(1.0) - r1) / (lit(2.0) - r1)
        val a2 = (lit(1.0) - r2) / (lit(2.0) - r2)
        val c1 = a1 * r2 / (r1 + r2) + a2 * r1 / (r1 + r2)
        val c2 = a1 * r1 / (r1 + r2) + a2 * r2 / (r1 + r2)
        val pHat = col("matched_bits").cast("double") / lit(63.0)
        // 12 decimals, not the usual 9: at this corpus' densities the
        // correction lives at the 10th decimal (~r/2 ≈ 10⁻¹⁰) — a
        // 9-decimal render would erase it and re-emit j_bbit
        Quant.qdec((pHat - c1) / (lit(1.0) - c2), 12)
      })
      .select(col("doc_a"), col("doc_b"),
        col("matched_bits").cast("int").as("matched_bits"),
        col("j_bbit"), col("j_bbit_corrected"), col("j_exact"),
        Quant.qdec(abs(col("j_bbit") - col("j_exact")), 9).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val bbitMinhashSql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3),
      |hashed AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS h1,
      |    CAST(('0x' || substring(md5(g), 17, 13)) AS BIGINT) AS h2
      |  FROM sh),
      |mins AS (
      |  SELECT doc_id, i, min((h1 + i * h2) & 1099511627775) AS m
      |  FROM hashed CROSS JOIN (SELECT unnest(range(0, 63)) AS i)
      |  GROUP BY doc_id, i),
      |sigs AS (
      |  SELECT doc_id, bit_or((m & 1) << i) AS sig FROM mins
      |  GROUP BY doc_id),
      |keys AS (
      |  SELECT doc_id, b, bit_or((m % 32768) << (15 * (i - 4 * b))) AS key
      |  FROM mins CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
      |  WHERE i >= 4 * b AND i < 4 * b + 4
      |  GROUP BY doc_id, b),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM keys a JOIN keys b ON a.b = b.b AND a.key = b.key
      |    AND a.doc_id < b.doc_id),
      |est AS (
      |  SELECT doc_a, doc_b,
      |    63 - bit_count(xor(sa.sig, sb.sig)) AS matched_bits
      |  FROM cand
      |    JOIN sigs sa ON doc_a = sa.doc_id
      |    JOIN sigs sb ON doc_b = sb.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, count(*) AS n_inter
      |  FROM cand JOIN sh a ON a.doc_id = doc_a
      |    JOIN sh b ON b.doc_id = doc_b AND a.g = b.g
      |  GROUP BY 1, 2),
      |dens AS (
      |  SELECT e.doc_a, e.doc_b, e.matched_bits, n_inter,
      |    sa.n AS na, sb.n AS nb,
      |    (CAST(sa.n AS DOUBLE) / 1099511627776.0) AS r1,
      |    (CAST(sb.n AS DOUBLE) / 1099511627776.0) AS r2
      |  FROM est e LEFT JOIN inter USING (doc_a, doc_b)
      |    JOIN sizes sa ON e.doc_a = sa.doc_id
      |    JOIN sizes sb ON e.doc_b = sb.doc_id),
      |corr AS (
      |  SELECT doc_a, doc_b, matched_bits, n_inter, na, nb, r1, r2,
      |    (1.0 - r1) / (2.0 - r1) AS a1,
      |    (1.0 - r2) / (2.0 - r2) AS a2
      |  FROM dens),
      |scored AS (
      |  SELECT doc_a, doc_b, CAST(matched_bits AS INTEGER)
      |      AS matched_bits,
      |    floor((2.0 * matched_bits / 63 - 1.0) * 1e9 + 0.5) / 1e9
      |      AS j_bbit,
      |    floor(((CAST(matched_bits AS DOUBLE) / 63.0
      |        - (a1 * r2 / (r1 + r2) + a2 * r1 / (r1 + r2)))
      |      / (1.0 - (a1 * r1 / (r1 + r2) + a2 * r2 / (r1 + r2))))
      |      * 1e12 + 0.5) / 1e12 AS j_bbit_corrected,
      |    floor((CAST(coalesce(n_inter, 0) AS DOUBLE)
      |      / (na + nb - coalesce(n_inter, 0)))
      |      * 1e9 + 0.5) / 1e9 AS j_exact
      |  FROM corr)
      |SELECT doc_a, doc_b, matched_bits, j_bbit, j_bbit_corrected, j_exact,
      |  floor(abs(j_bbit - j_exact) * 1e9 + 0.5) / 1e9 AS abs_err
      |FROM scored ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash + LSH near-dup: 128 xxhash64 min-hashes per doc, banded
    * 32×4; bucket-join candidates, then exact-Jaccard verification of
    * candidates only. Output equals the exact oracle (recall argument
    * in the object Scaladoc).
    */
  private def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sh = cachedShingles(s, dir)

    // Signature as one codegen'd expression per doc (TextFns /
    // MinHashSignature): no 128x-row explode and no (doc, k) shuffle —
    // at 100 TB only docs x 1KB signatures move.
    val sigs = Tables(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.WordShingles(col("text"), ShingleK).as("gs"))
      .filter(size(col("gs")) > 0)
      .withColumn("sig", graft.functions.MinHashSignature(col("gs"), NumPerms))

    // band key = hash of the band's 4-hash slice
    val bands = sigs
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(NumPerms / BandRows - 1)),
          b => xxhash64(b, slice(col("sig"), b * BandRows + 1, lit(BandRows)))))
          .as(Seq("band", "band_key")))

    val ca = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
    val cb = bands.select(col("doc_id").as("doc_b"), col("band"), col("band_key"))
    val candidates = ca.join(cb, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

    // exact verification of candidates only
    val sets = sh.groupBy(col("doc_id")).agg(collect_set(col("g")).as("gs"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("gs").as("ga")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("gs").as("gb")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("n_union",
        size(col("ga")) + size(col("gb")) - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 60-bit SimHash per document over distinct tokens; bit b of the
    * per-token hash comes from md5 hex digits 2..16 (see
    * graft.functions.SimHash60Helper), so the oracle reproduces it in
    * SQL (simhashCte below).
    */
  private def simhashDf(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), graft.functions.SimHash60(
        array_distinct(TextFns.tokens(col("text")))).as("simhash"))

  private def simhash(s: SparkSession, dir: String): DataFrame =
    simhashDf(s, dir).orderBy(col("doc_id"))

  private val simhashCte =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents),
      |bits AS (
      |  SELECT doc_id, b,
      |    CASE WHEN (
      |      (strpos('0123456789abcdef',
      |         substring(substring(md5(tok), 2, 15), 1 + (b // 4), 1)) - 1)
      |      >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS contrib
      |  FROM toks, (SELECT unnest(range(0, 60)) AS b)),
      |sums AS (SELECT doc_id, b, sum(contrib) AS s FROM bits GROUP BY 1, 2),
      |sims AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (59 - b)) ELSE 0 END)
      |      AS simhash
      |  FROM sums GROUP BY doc_id)""".stripMargin

  // CAST: DuckDB's sum() over BIGINT declares HUGEINT; Spark's is
  // BIGINT — same values, and the hash gate compares declared types.
  private val simhashSql =
    simhashCte +
      "\nSELECT doc_id, CAST(simhash AS BIGINT) AS simhash FROM sims ORDER BY doc_id"

  /** SimHash near-dup pairs: Hamming distance <= 3 on the 60-bit
    * simhash. Brute-force pairs at fixture scale; at 100 TB the join
    * key becomes a 15-bit band of the simhash (pigeonhole: distance
    * <= 3 over 4 bands forces one identical band).
    */
  private def simhashHamming(s: SparkSession, dir: String): DataFrame = {
    // Pigeonhole banding instead of the O(n²) cross join: distance <= 3
    // over 4 bands of 15 bits forces at least one identical band, so a
    // band-bucket join finds every qualifying pair (no recall loss);
    // only band-collision candidates pay the popcount. This is the
    // plan that survives 100 TB — candidates scale with collisions,
    // not with n².
    val sh = simhashDf(s, dir)
    val bands = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7fffL))): _*))
        .as(Seq("band_idx", "band_val")))
    val a = bands.select(col("doc_id").as("doc_a"), col("simhash").as("ha"),
      col("band_idx"), col("band_val"))
    val b = bands.select(col("doc_id").as("doc_b"), col("simhash").as("hb"),
      col("band_idx"), col("band_val"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ha"), col("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val simhashHammingSql =
    simhashCte +
      """
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin

  /** Embedding near-dup: pairs with cosine >= 0.45, via IVF-bucketed
    * candidate generation (the same centroid-assignment shape as
    * graft.queries.Similarity): every vector is multi-assigned to its
    * 8 nearest of 16 fixed centroids, candidate pairs must share a
    * centroid bucket, and only candidates pay the exact cosine — so
    * pair cardinality scales with bucket collisions, not n². Probing
    * half the coarse buckets recovers every oracle pair at the 0.45
    * threshold (measured: the hardest fixture pair needs k=6 shared-
    * rank probes at sf0.01, 5 at sf0.1 — 8 leaves margin); recall for
    * near-threshold pairs is probabilistic by IVF's nature, and a
    * production corpus would scale nlist ~ sqrt(n) with nProbe fixed,
    * keeping candidates sub-quadratic. The double cosine is
    * bit-identical to DuckDB's (TextFns.cosine).
    *
    * Measured candidate coverage at sf0.1: ~100% of all pairs — this
    * fixture's 0.45 threshold sits just above the background cosine
    * distribution (142 of 144 qualifying pairs fall in [0.45, 0.55)
    * while the all-pairs p99 is 0.287), so no candidate scheme can
    * prune here without recall loss (sign-LSH collision probability:
    * 0.648 at cos 0.45 vs 0.597 at cos 0.30). The bucketed shape is
    * kept because production near-dup thresholds (>= 0.85) sit far
    * from the background and bucket pruning then bites; the threshold,
    * not the plan, decides the candidate volume.
    *
    * INDEX GEOMETRY SCALES WITH THE CORPUS. The round-10 scale curve
    * (SCALING.md) caught the fixture geometry (nlist=16, nprobe=8 —
    * every vector in half of all buckets) going quadratic at 10×
    * sf0.1: 2.2 s → 104 s, slope 1.17. Candidates scale as
    * n²·nprobe²/nlist, so a fixed nlist IS n². Above fixture scale
    * (n > 2000) nlist follows the occupancy rule
    * nlist = n·nprobe/B (B = 256 vectors per bucket), which makes
    * candidate volume n·nprobe·B/2 — linear in n, the production IVF
    * sizing (nlist ∝ n, occupancy constant). At fixture scale
    * (n ≤ 2000, both oracle-gated SFs) the geometry is unchanged
    * bit-for-bit: there the threshold sits in the background noise and
    * only the full-recall configuration reproduces the exact oracle.
    * Near-threshold recall at scaled geometry is IVF's usual
    * probabilistic trade; true near-dup mass (cos ≥ 0.9) lands in
    * shared top buckets and survives. Measured post-fix at sf1*:
    * 104 s → ~7 s for 10× sf0.1's data (SCALING.md).
    */
  /** The embedding near-dup pair set is consumed by both
    * `dd_embedding_neardup` and `dd_modality_agreement`; within one
    * session the verified pair set is built and cached once (the
    * cachedJaccard convention — one index build per session, shared by
    * every consumer).
    */
  private val embPairsCache = new graft.SessionCache[DataFrame]

  private def embeddingNearDup(s: SparkSession, dir: String): DataFrame =
    embPairsCache.getOrElseUpdate(s, dir)(embeddingNearDupBuild(s, dir).cache())

  private def embeddingNearDupBuild(s: SparkSession, dir: String): DataFrame = {
    val nProbe = 8
    val e = Tables(s, dir, "embeddings")
      .withColumn("nrm", TextFns.norm(col("embedding")))
    val nVecs = e.count()
    val nCentroids = if (nVecs <= 2000) 16
      else (nVecs * nProbe / 256).min(4096).toInt
    // first-nCentroids-by-id convention (vec_ids need not be dense —
    // the derived sf1* fixture offsets replica ids by 10M)
    val cm: Seq[Seq[Double]] = e
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(nCentroids).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq

    // multi-assign: each vector to its nProbe nearest centroid buckets
    // in ONE narrow NearestCentroids projection exploded to nProbe
    // rows — no corpus x centroids fan-out, no rank window, constant
    // plan width in nlist; the bucket join key is just (cent_id)
    val assigned = e
      .select(col("vec_id"), explode(
        graft.functions.NearestCentroids(col("embedding"), cm, nProbe))
        .as("nc"))
      .select(col("vec_id"), col("nc").getField("cid").as("cent_id"))

    val candidates = assigned.select(col("vec_id").as("id_a"), col("cent_id"))
      .join(assigned.select(col("vec_id").as("id_b"), col("cent_id")), "cent_id")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    // exact verification of candidates only
    val v = e.select(col("vec_id"), col("embedding"), col("nrm"))
    candidates
      .join(v.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("nrm").as("na")), "id_a")
      .join(v.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("nrm").as("nb")), "id_b")
      .withColumn("cosv", TextFns.cosineFrom(
        TextFns.dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cosv") >= 0.45)
      .select(col("id_a"), col("id_b"), col("cosv"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val embeddingNearDupSql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                         CAST(b.embedding AS DOUBLE[])) AS cosv
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.45
      |ORDER BY id_a, id_b""".stripMargin

  /** Near-duplicate clustering: connected components over the
    * jaccard >= 0.5 pair graph, labeling every document in a
    * component with the minimum member doc_id (the canonical
    * keep-one-per-cluster step after pair finding). Spark side is the
    * large-star/small-star algorithm (Kiveris et al. 2014, in
    * [[graft.dedup.ConnectedComponents]]) — O(log² n) rounds on any
    * graph shape, independent of component diameter, so chain-y
    * crawl-scale duplicate graphs converge as fast as cliques. The
    * oracle is a DuckDB recursive CTE reaching the same fixpoint.
    */
  /** The jaccard pair set is consumed by both dd_ngram_jaccard and
    * dd_components; within one session the materialized result is
    * shared (an index built once, like any dedup index in production —
    * which also means a fixture dir mutated mid-session serves the
    * stale index, as any index would). Keyed by the session object in
    * a weak map so ended sessions and their cached blocks can be
    * collected, with per-dir results inside.
    */
  private val jaccardCache = new graft.SessionCache[DataFrame]

  private def cachedJaccard(s: SparkSession, dir: String): DataFrame =
    // no second .cache(): the filtered view rides the scored-pair
    // cache; a loop materializing this (components, pagerank) warms
    // that cache and re-filters the tiny cached set per round
    jaccardCache.getOrElseUpdate(s, dir)(ngramJaccard(s, dir))

  private def components(s: SparkSession, dir: String): DataFrame = {
    // Materialize the pair cache under the caller's session (AQE on —
    // the right config for the corpus-wide build), then iterate in a
    // cloned session with AQE off and a narrow shuffle width: the loop
    // moves a few hundred edges per round, where per-round adaptive
    // replanning costs more than the work itself (measured 2x). The
    // clone shares the SharedState cache manager, so the pair set and
    // the round caches are shared, and no global conf is touched
    // (same isolation pattern as the streaming queries).
    cachedJaccard(s, dir).count()
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val pairs = cachedJaccard(s2, dir).select(col("doc_a"), col("doc_b"))
    // Large-star/small-star (graft.dedup.ConnectedComponents): rounds
    // grow O(log² n) on any graph shape, not with component diameter —
    // a chain-y crawl-scale duplicate graph converges in the same
    // handful of rounds as the fixture's cliques. Equivalence with
    // min-label propagation is property-tested on random graphs
    // (ConnectedComponentsSpec).
    graft.dedup.ConnectedComponents.alternatingStars(pairs)
      .select(col("node").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  private val componentsSql =
    """WITH RECURSIVE pairs AS (
      |  WITH sh AS (
      |    SELECT doc_id,
      |      unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |    WHERE len(ws) >= 3),
      |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |  inter AS (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2)
      |  SELECT doc_a, doc_b FROM inter
      |    JOIN sizes sa ON doc_a = sa.doc_id
      |    JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
      |edges AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |walk AS (
      |  SELECT doc_a AS node, doc_a AS reach FROM edges
      |  UNION
      |  SELECT e.doc_a AS node, w.reach
      |  FROM edges e JOIN walk w ON e.doc_b = w.node)
      |SELECT node AS doc_id, min(reach) AS component
      |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin

  /** INCREMENTAL component maintenance — the daily-ingest counterpart
    * of [[components]]: the corpus arrives as a base build plus two
    * ingest batches (hash buckets 0–7 / 8 / 9), and each batch updates
    * the persisted near-dup cluster labels WITHOUT re-running CC over
    * the full pair graph ([[graft.dedup.IncrementalComponents]]):
    * delta pairs are batch-bounded (accepted postings semi-joined to
    * the batch's gram footprint before the bucket shuffle), and only
    * components TOUCHED by a delta edge are relabeled — old components
    * enter the rerun as star summaries (root, member), everything
    * untouched passes through an anti-join by reference. The artifact
    * story is genuinely LSM: a batch WRITES only its own postings
    * delta and its (retired, relabeled) label delta — each O(batch /
    * touched), never O(corpus) — and readers fold the delta chain in
    * arrival order (the accepted postings view is a multi-path read
    * of all prior deltas; compaction of a long chain is the
    * IncrementalDedup.compact story). An earlier draft rewrote the
    * unioned postings and the full label table per stage — O(corpus)
    * write amplification per ingest, the exact failure mode
    * "incremental" exists to avoid.
    *
    * The oracle is the FULL-graph recursive-CTE fixpoint (the
    * dd_components oracle): connectivity is order-confluent — the
    * components of an edge union don't depend on arrival order — so
    * the incremental fixpoint must hash-equal the batch-global one;
    * a staged replay would be a weaker check, not a stronger one. The
    * touched-only mechanics are pinned by IncrementalComponentsSpec
    * (untouched labels survive by reference on random multi-batch
    * corpora).
    *
    * Scale shape per ingest: one accepted-postings scan pruned to the
    * batch footprint; CC rerun over |delta edges| + |touched members|
    * — the batch's blast radius, never the corpus.
    *
    * Round-21 floor shave (the r20 verdict's ask; clean-window warm
    * pass 11.9 → 8.9 s at sf0.1, measured phase by phase): (1) the
    * three postings deltas are staged in ONE batch-partitioned pass
    * (disjoint pure functions of the fixture, so the per-delta file
    * sets are byte-equivalent to three sequential corpus scans); (2)
    * each ingest's delta pairs are pinned with localCheckpoint so the
    * bucket-join plan executes once per batch instead of re-running
    * inside both the CC fixpoint and the retired-delta write; (3) the
    * delta-pair builds — pure functions of the postings, never of
    * labels — run as concurrent jobs overlapping the base CC (guide
    * §2.6), while the label-delta chain still folds strictly in
    * arrival order; (4) the AQE-off narrow clone is gone (see the
    * inline note — the union-find endgame absorbs every CC call here,
    * so the clone only throttled the heavy pair builds). None of this
    * changes what any artifact contains or the O(batch) per-ingest
    * write contract — only how many synchronous jobs the demo
    * schedules.
    *
    * Round 22 continues the same program (see the inline note): every
    * artifact write is a leaf job overlapped off the critical path,
    * the postings split is pinned once instead of being re-read from
    * the staged files (removing the empty-partition-dir read hazard
    * the r21 ADVICE flagged — an empty bucket is now just an empty
    * filtered frame), the label view folds in memory over the pinned
    * retired/relabeled frames, and the straggler futures are drained
    * before the temp root is deleted (the r21 verdict's failure-path
    * race).
    */
  private def incrementalComponents(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.dedup.{IncrementalComponents => IC}
    val docs = Tables(s, dir, "documents")
    val bucket = graft.corpus.CorpusPipeline
      .hashBucket("doc_id", "ingest:", 10)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ddinc_q").toString
    try {
      // No AQE-off narrow clone here (unlike dd_components): the
      // distributed star rounds it exists for never run on this
      // operator at oracle-gated scale — the union-find endgame
      // absorbs every CC call at the FIRST signature — so the clone
      // only pinned the heavy pair builds to 8 fixed-width shuffles
      // on a 32-core box (the IncrementalIngest width lesson: the
      // bucket HOF expansion is compute-bound and wants the full
      // session width + AQE coalescing).
      //
      // Round-22 floor shave (r21 verdict item 5; ~7.7 → ~4.5 s warm
      // at sf0.1): the ONLY sequencing the algorithm requires is the
      // label-delta fold order — every artifact WRITE (postings
      // staging, l0, ret/ld deltas) is a leaf nothing later reads,
      // because the in-memory frames the artifacts are written FROM
      // are identical to what a read-back would return. So the
      // postings are pinned once (the batch split is bench-fixture
      // staging — a real crawl's batches arrive pre-split), every
      // write runs as an overlapped job off the critical path (§2.6),
      // and the label view folds over the pinned frames instead of
      // re-reading l0/ret/ld per stage (§5 multi-consumer pinning; the
      // read-back shape re-executed the fold chain per stage). The
      // artifact chain itself — what gets written, per-ingest O(batch)
      // — is unchanged; only the demo's job graph shrank.
      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      // every overlapped write, so the failure path can drain them
      // before deleting the temp root (a deleted-dir race otherwise
      // turns one failure into a noisy secondary one)
      val writeFs = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
      val posts = IC.postings(docs, "doc_id", "text")
        .withColumn("b", when(bucket < 8, 0)
          .otherwise(bucket - 7).cast("int"))
        .localCheckpoint()
      writeFs += Future(blocking {
        posts.write.partitionBy("b").parquet(s"$root/p")
      })
      def bucketPosts(i: Int) =
        posts.filter(col("b") === i).drop("b")
      // Overlap the INDEPENDENT jobs (guide §2.6): each batch's delta
      // pairs are a pure function of the postings deltas — they never
      // read labels — so both pair builds run concurrently with the
      // base CC instead of serializing behind it. The label-delta
      // chain itself still folds strictly in arrival order below (the
      // dependency that actually exists).
      val deltaF = (1 to 2).map { i =>
        i -> Future(blocking {
          IC.deltaPairs(posts.filter(col("b") < i).drop("b"),
            bucketPosts(i), 0.5).localCheckpoint()
        })
      }.toMap
      try {
        // stage 0: base labels from the seed postings delta; pinned so
        // the l0 write, both per-stage view folds, and the final fold
        // all consume the one materialization
        val base = graft.dedup.ConnectedComponents
          .alternatingStars(IC.pairsWithin(bucketPosts(0), 0.5))
          .select(col("node").as("doc_id"), col("component"))
          .localCheckpoint()
        writeFs += Future(blocking { base.write.parquet(s"$root/l0") })
        // two ingest rounds: each WRITES only its own label deltas
        // (retired/relabeled; overlapped — the fold below consumes the
        // same pinned frames the writes do) and folds the view forward
        var view = base
        (1 to 2).foreach { i =>
          val delta = Await.result(deltaF(i), Duration.Inf)
          val (retired, relabeled) = IC.relabelDelta(view, delta)
          writeFs += Future(blocking {
            retired.write.parquet(s"$root/ret$i")
          })
          writeFs += Future(blocking {
            relabeled.write.parquet(s"$root/ld$i")
          })
          view = IC.applyDelta(view, retired, relabeled)
        }
        val out = view
          // pin before the sort (see Corpus.evalGramSet note): the
          // checkpoint outlives the temp-state delete; the terminal
          // order-by stays lazy like every other query's
          .localCheckpoint() // materialize before the temp state is deleted
          .orderBy(col("doc_id"))
        writeFs.foreach(f => Await.result(f, Duration.Inf))
        out
      } finally {
        // drain stragglers (delta builds + writes) before the temp
        // root is deleted, swallowing their failures — the primary
        // exception (if any) is already in flight
        (deltaF.values ++ writeFs).foreach { f =>
          try { Await.ready(f, Duration.Inf); () }
          catch { case _: Throwable => () }
        }
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  /** Chunk-level exact dedup: the corpus is cut into the same 32-word
    * / stride-24 windows as the chunker (graft.queries.Corpus cp_chunk)
    * and deduplicated at chunk granularity — the pass that removes
    * repeated spans (boilerplate, quoted passages, exact re-posts)
    * that document-level dedup can't see. One hash aggregation on the
    * chunk text; the shuffle carries (md5, min-key, count), not the
    * chunk bodies, once partial aggregation kicks in. The canonical
    * survivor is the lexicographically first (doc_id, chunk_idx),
    * packed into one BIGINT (chunk_idx < 1024 always, docs are capped
    * well below 24k words) so min() stays a single order-independent
    * aggregate on both engines.
    */
  private def chunkExact(s: SparkSession, dir: String): DataFrame = {
    val win = 32
    val stride = 24
    Tables(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")))
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          greatest(floor((col("n_words") - 1) / stride).cast("int"), lit(0)))))
      .withColumn("start", col("chunk_idx") * stride)
      .filter(col("start") < col("n_words"))
      .withColumn("chunk_text", array_join(
        slice(col("ws"), col("start") + 1,
          least(lit(win), col("n_words") - col("start"))), " "))
      .groupBy(md5(col("chunk_text").cast("binary")).as("chunk_md5"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id") * 1024 + col("chunk_idx")).as("keep_key"))
      .select(col("chunk_md5"), col("n_copies"),
        floor(col("keep_key") / 1024).cast("long").as("keep_doc"),
        (col("keep_key") % 1024).as("keep_chunk"))
      .orderBy(col("chunk_md5"))
  }

  private val chunkExactSql =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |    len(string_split(text, ' ')) AS nw FROM documents),
      |ch AS (
      |  SELECT doc_id, chunk_idx,
      |    array_to_string(ws[chunk_idx*24 + 1 :
      |      chunk_idx*24 + least(32, nw - chunk_idx*24)], ' ') AS chunk_text
      |  FROM base,
      |    (SELECT unnest(range(0,
      |       (SELECT (max(nw) - 1) // 24 + 1 FROM base))) AS chunk_idx)
      |  WHERE chunk_idx <= greatest((nw - 1) // 24, 0)
      |    AND chunk_idx * 24 < nw)
      |SELECT md5(chunk_text) AS chunk_md5, count(*) AS n_copies,
      |  CAST(min(doc_id * 1024 + chunk_idx) // 1024 AS BIGINT) AS keep_doc,
      |  CAST(min(doc_id * 1024 + chunk_idx) % 1024 AS BIGINT) AS keep_chunk
      |FROM ch GROUP BY 1 ORDER BY chunk_md5""".stripMargin

  /** Cross-source mirror detection — WHICH sources copy from which,
    * at document granularity: two docs from different sources sharing
    * an exact duplicated 32-word chunk (the dd_chunk_exact windows,
    * win 32 / stride 24) are a mirroring EVENT, and the per-source-
    * pair rollup of distinct shared chunks and distinct doc pairs is
    * the report a curation pipeline reads before deciding which
    * source to drop wholesale. Distinct from ta_source_overlap
    * (vocabulary-level gram overlap shares): this counts verbatim
    * copy events between concrete documents, the mirror/aggregator
    * signature.
    *
    * Scale shape: chunk fingerprints are md5'd BEFORE their one
    * corpus shuffle; pair emission is the bucket pattern over
    * duplicated fingerprints only, so a chunk costs its occurrence
    * count squared ONLY within its bucket — and buckets past
    * MirrorCap occupants raise_error loudly (the day-bitmap
    * contract): a chunk duplicated thousands of times is boilerplate
    * that belongs to the filter tier, not the mirror report, and
    * silently exploding pairs on it would be the 100 TB failure mode.
    * Output is bounded by source pairs. When boilerplate density is
    * the EXPECTED regime (web corpora), run dd_source_mirror_agg —
    * the pre-aggregated escalation below, cap-free by construction.
    */
  // 256: the sf1* derived fixture replicates sf0.1's duplication 10x
  // (hottest chunk 71 occupants), and 256^2 pairs per bucket is still
  // report-scale; the cap exists to fail LOUDLY when true boilerplate
  // (thousands of copies) reaches an operator meant for mirror events
  private[graft] val MirrorCap = 256
  /** (doc_id, source, fp) — one row per distinct (doc, chunk
    * fingerprint), the shared front end of the mirror report family
    * (dd_chunk_exact windows, win 32 / stride 24, md5 fingerprints).
    */
  private[graft] def mirrorChunks(docs: DataFrame): DataFrame = {
    val win = 32
    val stride = 24
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")))
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          greatest(floor((col("n_words") - 1) / stride).cast("int"), lit(0)))))
      .withColumn("start", col("chunk_idx") * stride)
      .filter(col("start") < col("n_words"))
      .select(col("doc_id"), col("source"),
        md5(array_join(
          slice(col("ws"), col("start") + 1,
            least(lit(win), col("n_words") - col("start"))), " ")
          .cast("binary")).as("fp"))
      .distinct() // a chunk repeated INSIDE one doc is one occurrence
  }

  private def sourceMirror(s: SparkSession, dir: String): DataFrame =
    mirrorEnumReport(mirrorChunks(Tables(s, dir, "documents")))

  /** The doc-enumerating mirror report (capped — see [[MirrorCap]]);
    * [[mirrorAggReport]] is the boilerplate-proof escalation.
    */
  private[graft] def mirrorEnumReport(ch: DataFrame): DataFrame = {
    val buckets = ch
      .groupBy(col("fp"))
      .agg(collect_list(struct(col("doc_id").as("id"),
        col("source").as("src"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("fp"),
        when(size(col("ds")) <= MirrorCap, col("ds"))
          .otherwise(raise_error(concat(
            lit("dd_source_mirror: chunk duplicated "),
            size(col("ds")).cast("string"),
            lit(s" times exceeds the $MirrorCap-occupant pair cap —" +
              " boilerplate for the filter tier, not the mirror" +
              " report")))).as("ds"))
    val pairs = buckets
      .select(col("fp"), explode(flatten(transform(col("ds"), bb =>
        transform(
          filter(col("ds"), aa =>
            aa("id") < bb("id") && aa("src") =!= bb("src")),
          aa => struct(
            least(aa("src"), bb("src")).as("src_a"),
            greatest(aa("src"), bb("src")).as("src_b"),
            aa("id").as("doc_a"), bb("id").as("doc_b")))))).as("p"))
      .select(col("fp"), col("p.src_a"), col("p.src_b"),
        col("p.doc_a"), col("p.doc_b"))
    pairs
      .groupBy(col("src_a"), col("src_b"))
      .agg(countDistinct(col("fp")).as("n_shared_chunks"),
        countDistinct(col("doc_a"), col("doc_b")).as("n_doc_pairs"))
      .orderBy(col("n_doc_pairs").desc, col("src_a"), col("src_b"))
  }

  private val sourceMirrorSql =
    """WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS ws,
      |    len(string_split(text, ' ')) AS nw FROM documents),
      |ch AS (
      |  SELECT DISTINCT doc_id, source,
      |    md5(array_to_string(ws[chunk_idx*24 + 1 :
      |      chunk_idx*24 + least(32, nw - chunk_idx*24)], ' ')) AS fp
      |  FROM base,
      |    (SELECT unnest(range(0,
      |       (SELECT (max(nw) - 1) // 24 + 1 FROM base))) AS chunk_idx)
      |  WHERE chunk_idx <= greatest((nw - 1) // 24, 0)
      |    AND chunk_idx * 24 < nw),
      |dup AS (SELECT fp FROM ch GROUP BY fp HAVING count(*) >= 2),
      |p AS (
      |  SELECT a.fp,
      |    least(a.source, b.source) AS src_a,
      |    greatest(a.source, b.source) AS src_b,
      |    a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ch a JOIN ch b USING (fp)
      |  WHERE a.doc_id < b.doc_id AND a.source <> b.source
      |    AND fp IN (SELECT fp FROM dup))
      |SELECT src_a, src_b,
      |  count(DISTINCT fp) AS n_shared_chunks,
      |  count(DISTINCT (doc_a, doc_b)) AS n_doc_pairs
      |FROM p GROUP BY 1, 2
      |ORDER BY n_doc_pairs DESC, src_a, src_b""".stripMargin

  /** The boilerplate-proof escalation of [[sourceMirror]] — the form a
    * 100 TB run publishes. The enumerating report above holds DOC ids
    * through the per-fingerprint bucket, so a chunk's cost is its
    * occupant count SQUARED and true boilerplate (license headers,
    * navigation chrome — thousands of copies) trips the MirrorCap
    * raise_error: loud, but the answer is an abort, not a report.
    * Here occupants are rolled up per (fingerprint, source) BEFORE
    * any pairing, so a bucket holds at most one entry PER SOURCE and
    * a chunk costs O(sources²) regardless of how many documents carry
    * it; the doc-level count survives exactly as a tally — a source
    * pair's copy events for one chunk are n_a·n_b without enumerating
    * them (every cross-source doc pair qualifies: ids differ, sources
    * differ). The per-pair rollup is therefore
    *   n_copy_events = Σ_fp n_a·n_b
    *     = |{(fp, doc_a, doc_b) : both docs carry fp}|,
    * the exact count the enumerating form's pair rows have — pinned
    * by SourceMirrorSpec's equality property below the cap. What the
    * aggregation gives up is doc-pair DISTINCTNESS across chunks
    * (n_doc_pairs needs the ids); a pair sharing three chunks counts
    * three events. At boilerplate density that is the honest metric —
    * and the one that exists at all.
    */
  private[graft] def mirrorAggReport(ch: DataFrame): DataFrame = {
    val perSrc = ch
      .groupBy(col("fp"), col("source"))
      .agg(count(lit(1)).as("nd")) // ch is (doc, fp)-distinct already
    val buckets = perSrc
      .groupBy(col("fp"))
      .agg(collect_list(struct(col("source").as("src"),
        col("nd").as("nd"))).as("ss"))
      .filter(size(col("ss")) >= 2)
    buckets
      .select(col("fp"), explode(flatten(transform(col("ss"), bb =>
        transform(
          filter(col("ss"), aa => aa("src") < bb("src")),
          aa => struct(aa("src").as("src_a"), bb("src").as("src_b"),
            (aa("nd") * bb("nd")).as("events")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(countDistinct(col("fp")).as("n_shared_chunks"),
        sum(col("p.events")).as("n_copy_events"))
      .orderBy(col("n_copy_events").desc, col("src_a"), col("src_b"))
  }

  private def sourceMirrorAgg(s: SparkSession, dir: String): DataFrame =
    mirrorAggReport(mirrorChunks(Tables(s, dir, "documents")))

  /** A 32-word boilerplate header prepended to EVERY document — the
    * web-corpus shape (license text, navigation chrome) that makes
    * >MirrorCap-occupant chunks routine. Deterministic and exactly one
    * window wide, so chunk 0 of every doc is the identical
    * fingerprint: at sf0.01 that bucket holds 500 docs — double the
    * 256 cap, the regime where [[sourceMirror]]'s raise_error fires —
    * while the aggregated form's bucket holds 20 (one per source).
    */
  private[graft] val MirrorBoiler: String =
    (0 until 32).map(i => s"boiler$i").mkString(" ")

  private def sourceMirrorBoiler(s: SparkSession, dir: String): DataFrame =
    mirrorAggReport(mirrorChunks(Tables(s, dir, "documents")
      .withColumn("text",
        concat(lit(MirrorBoiler), lit(" "), col("text")))))

  private def mirrorAggSqlFor(textExpr: String): String =
    s"""WITH d AS (SELECT doc_id, source, $textExpr AS text FROM documents),
      |base AS (SELECT doc_id, source, string_split(text, ' ') AS ws,
      |           len(string_split(text, ' ')) AS nw FROM d),
      |ch AS (
      |  SELECT DISTINCT doc_id, source,
      |    md5(array_to_string(ws[chunk_idx*24 + 1 :
      |      chunk_idx*24 + least(32, nw - chunk_idx*24)], ' ')) AS fp
      |  FROM base,
      |    (SELECT unnest(range(0,
      |       (SELECT (max(nw) - 1) // 24 + 1 FROM base))) AS chunk_idx)
      |  WHERE chunk_idx <= greatest((nw - 1) // 24, 0)
      |    AND chunk_idx * 24 < nw),
      |ps AS (SELECT fp, source, count(*) AS nd FROM ch GROUP BY 1, 2),
      |p AS (
      |  SELECT a.fp, a.source AS src_a, b.source AS src_b,
      |    a.nd * b.nd AS events
      |  FROM ps a JOIN ps b ON a.fp = b.fp AND a.source < b.source)
      |SELECT src_a, src_b,
      |  count(DISTINCT fp) AS n_shared_chunks,
      |  CAST(sum(events) AS BIGINT) AS n_copy_events
      |FROM p GROUP BY 1, 2
      |ORDER BY n_copy_events DESC, src_a, src_b""".stripMargin

  private val sourceMirrorAggSql = mirrorAggSqlFor("text")

  private val sourceMirrorBoilerSql = mirrorAggSqlFor(
    s"concat('$MirrorBoiler', ' ', text)")

  /** The MinHashDedup library API end-to-end under the hash gate:
    * signatures → banded candidates → exact verification → greedy
    * survivors (keep a doc iff it has no near-dup with a smaller id).
    * The oracle derives the same survivor set from exact all-pairs
    * Jaccard, so the staged API — including its LSH recall — is held
    * to ground truth, not just to its own unit tests.
    */
  private def minhashSurvivors(s: SparkSession, dir: String): DataFrame =
    graft.dedup.MinHashDedup
      .dedup(Tables(s, dir, "documents"), "doc_id", "text", 0.5)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  private val minhashSurvivorsSql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |losers AS (
      |  SELECT DISTINCT doc_b FROM inter
      |    JOIN sizes sa ON doc_a = sa.doc_id
      |    JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5)
      |SELECT doc_id, source FROM documents
      |WHERE doc_id NOT IN (SELECT doc_b FROM losers)
      |ORDER BY doc_id""".stripMargin

  /** Incremental dedup: screen an INCOMING batch against the EXISTING
    * corpus without re-pairing existing docs — the production ingest
    * pattern (each crawl snapshot dedupes against everything already
    * accepted; the accepted set is never re-evaluated). Incoming =
    * odd doc_id, existing = even (a deterministic stand-in for the
    * batch boundary). Two layers, same as a real ingest gate:
    * exact md5 match against any earlier doc, then shingle-Jaccard
    * >= 0.5 via the same capped inverted index as `dd_ngram_jaccard`
    * — but candidate pairs keep only those whose later side is
    * incoming, so existing-existing pairs are never generated. At
    * 100 TB the existing side's index is the persisted artifact and
    * only the (small) incoming batch explodes into it; the pair join
    * is bounded by the batch, not the corpus.
    */
  private def incremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val accepted = graft.dedup.IncrementalDedup.artifacts(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
      ShingleK)
    graft.dedup.IncrementalDedup
      .screen(docs.filter(pmod(col("doc_id"), lit(2)) === 1), accepted,
        "doc_id", "text", threshold = 0.5, shingleK = ShingleK,
        maxShingleDf = MaxShingleDf)
      .withColumnRenamed("id", "doc_id")
  }

  // True ingest semantics: a batch (odd) doc is a dup of ANY accepted
  // (even) doc — id order irrelevant on the accepted side — or of an
  // earlier (smaller-id) batch doc. The `gdf` CTE mirrors screen()'s
  // hot-shingle cap (buckets over MaxShingleDf are dropped whole) so
  // both sides compute the SAME function — equivalence no longer rests
  // on the fixture happening to catch capped-away pairs in the exact
  // layer. For batch-touched grams the Spark bucket holds every
  // accepted + batch posting, i.e. the gram's df over all documents,
  // which is what gdf counts.
  private val incrementalSql =
    s"""WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |exact_of AS (
      |  SELECT b.doc_id AS doc_id, min(a.doc_id) AS exact_of
      |  FROM fp b JOIN fp a ON a.fp = b.fp
      |    AND (a.doc_id % 2 = 0 OR a.doc_id < b.doc_id)
      |    AND a.doc_id <> b.doc_id
      |  WHERE b.doc_id % 2 = 1 GROUP BY 1),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |gdf AS (SELECT g FROM sh GROUP BY g
      |        HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM sh a JOIN gdf ON a.g = gdf.g JOIN sh b
      |    ON a.g = b.g AND b.doc_id % 2 = 1
      |    AND (a.doc_id % 2 = 0 OR a.doc_id < b.doc_id)
      |    AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2),
      |near_of AS (
      |  SELECT doc_b AS doc_id, min(doc_a) AS near_of
      |  FROM inter
      |    JOIN sizes sa ON doc_a = sa.doc_id
      |    JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
      |  GROUP BY 1)
      |SELECT doc_id, exact_of, near_of,
      |  exact_of IS NULL AND near_of IS NULL AS keep
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1)
      |  LEFT JOIN exact_of USING (doc_id)
      |  LEFT JOIN near_of USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** SimHash cluster labeling — alternating-star components over the
    * banded Hamming pair graph (`dd_simhash_hamming`'s candidates),
    * completing the cluster surface across all three fuzzy tiers
    * (shingle Jaccard, MinHash, SimHash): every near-identical doc
    * labeled with its component minimum and cluster size. The oracle
    * derives the same clusters from brute-force Hamming pairs via
    * recursive reachability, so the pigeonhole banding's
    * no-recall-loss claim is re-proven through the cluster structure
    * too.
    */
  /** Hamming pair set staged to parquet once per (JVM, fixture) — the
    * graft.StagedFixture convention — consumed by dd_simhash_hamming's
    * surface and the cluster labeling below. The pair set is a pure
    * function of the fixture; the former in-memory `.cache()` could be
    * evicted mid-suite, turning a worst-case rep into a full recompute
    * of the banded self-join. With a parquet stage the worst case is a
    * file read.
    */
  private def cachedSimhashPairs(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.StagedFixture.dir(
      graft.StagedFixture.key("simhash_pairs", dir), "graft_simhash_pairs") { t =>
      simhashHamming(s, dir).coalesce(1).write.mode("overwrite").parquet(t)
    }
    s.read.parquet(staged).orderBy(col("doc_a"), col("doc_b"))
  }

  private def simhashClusters(s: SparkSession, dir: String): DataFrame = {
    // pair staging under the caller's session (AQE on), star loop in
    // the AQE-off narrow clone — the dd_components pattern
    val _ = cachedSimhashPairs(s, dir)
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val pairs = cachedSimhashPairs(s2, dir).select(col("doc_a"), col("doc_b"))
    val comp = graft.dedup.ConnectedComponents.alternatingStars(pairs)
    comp.select(col("node").as("doc_id"), col("component").as("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .orderBy(col("doc_id"))
  }

  private val simhashClustersSql =
    "WITH RECURSIVE " + simhashCte.stripPrefix("WITH ") +
      """,
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |edges AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |walk AS (
        |  SELECT doc_a AS node, doc_a AS reach FROM edges
        |  UNION
        |  SELECT e.doc_a AS node, w.reach
        |  FROM edges e JOIN walk w ON e.doc_b = w.node),
        |labels AS (
        |  SELECT node AS doc_id, min(reach) AS cluster FROM walk
        |  GROUP BY node)
        |SELECT doc_id, cluster,
        |  count(*) OVER (PARTITION BY cluster) AS cluster_size
        |FROM labels ORDER BY doc_id""".stripMargin

  /** Cluster-representative selection — the policy the cluster queries
    * exist for: per minhash cluster, KEEP the member with the highest
    * quality score (the ta_quality_score formula; ties to the smaller
    * id), instead of the smallest-id convention. Composes the cached
    * verified pairs → star components → a broadcast-sized quality join
    * → one rank window partitioned by cluster. Only clustered docs
    * appear (singletons keep themselves trivially); the oracle replays
    * clusters via recursive reachability and the same score formula.
    */
  private def clusterRepresentatives(s: SparkSession, dir: String): DataFrame = {
    val comp = minhashClusters(s, dir)
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
    val ws = split(col("text"), " ")
    val stopArr = array(Seq("the", "a", "of", "and", "to", "in", "is")
      .map(lit): _*)
    val quality = Tables(s, dir, "documents")
      .select(col("doc_id"),
        Quant.qdec( // rational of counts: can TIE (Quant)
          lit(0.5) * least(size(ws).cast("double") / 100.0, lit(1.0)) +
            lit(0.3) * (size(filter(ws, w => array_contains(stopArr, w)))
              .cast("double") / size(ws)) +
            lit(0.2) * (size(array_distinct(ws)).cast("double") / size(ws)),
          6).as("quality"))
    val wRank = Window.partitionBy(col("cluster"))
      .orderBy(col("quality").desc, col("doc_id"))
    comp.join(quality, "doc_id")
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") === 1)
      .select(col("cluster"), col("cluster_size"),
        col("doc_id").as("representative"), col("quality"))
      .orderBy(col("cluster"))
  }

  private val clusterRepresentativesSql =
    """WITH RECURSIVE pairs AS (
      |  WITH sh AS (
      |    SELECT doc_id,
      |      unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |    WHERE len(ws) >= 3),
      |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |  inter AS (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2)
      |  SELECT doc_a, doc_b FROM inter
      |    JOIN sizes sa ON doc_a = sa.doc_id
      |    JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
      |edges AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |walk AS (
      |  SELECT doc_a AS node, doc_a AS reach FROM edges
      |  UNION
      |  SELECT e.doc_a AS node, w.reach
      |  FROM edges e JOIN walk w ON e.doc_b = w.node),
      |labels AS (
      |  SELECT node AS doc_id, min(reach) AS cluster FROM walk GROUP BY node),
      |quality AS (
      |  SELECT doc_id,
      |    floor((0.5 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
      |        + 0.3 * (CAST(n_stop AS DOUBLE) / n_tok)
      |        + 0.2 * (CAST(n_dis AS DOUBLE) / n_tok)) * 1e6 + 0.5) / 1e6
      |      AS quality
      |  FROM (
      |    SELECT doc_id,
      |      len(list_filter(string_split(text, ' '),
      |          w -> w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
      |        AS n_stop,
      |      len(string_split(text, ' ')) AS n_tok,
      |      len(list_distinct(string_split(text, ' '))) AS n_dis
      |    FROM documents))
      |SELECT cluster, cluster_size, representative, quality FROM (
      |  SELECT l.cluster,
      |    count(*) OVER (PARTITION BY l.cluster) AS cluster_size,
      |    l.doc_id AS representative, q.quality,
      |    row_number() OVER (PARTITION BY l.cluster
      |      ORDER BY q.quality DESC, l.doc_id) AS rnk
      |  FROM labels l JOIN quality q USING (doc_id))
      |WHERE rnk = 1 ORDER BY cluster""".stripMargin

  /** Pair-similarity histogram — the threshold-tuning diagnostic every
    * dedup rollout needs before picking 0.5 vs 0.8: ALL candidate
    * pairs sharing at least one (df-capped) shingle, bucketed into 20
    * Jaccard bins. The same one-shuffle inverted index as
    * `dd_ngram_jaccard` with the threshold filter replaced by a
    * histogram aggregate, so the candidate volume (and the cap's
    * exactness contract) is identical to the production screen being
    * tuned. Bin edges are floor(j·20) on identical IEEE doubles —
    * engine-exact.
    */
  private def jaccardHistogram(s: SparkSession, dir: String): DataFrame =
    cachedScoredPairs(s, dir)
      .withColumn("bin",
        least(floor(col("jaccard") * 20).cast("int"), lit(19)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        // qdec: jaccard is an int/int rational and can TIE (Quant)
        Quant.qdec(min(col("jaccard")), 9).as("min_j"),
        Quant.qdec(max(col("jaccard")), 9).as("max_j"))
      .orderBy(col("bin"))

  private val jaccardHistogramSql =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |  WHERE len(ws) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |gdf AS (SELECT g FROM sh GROUP BY g
       |        HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN gdf ON a.g = gdf.g JOIN sh b
       |    ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT least(CAST(floor(CAST(n_inter AS DOUBLE)
       |      / (sa.n + sb.n - n_inter) * 20) AS INTEGER), 19) AS bin,
       |    CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
       |  FROM inter
       |    JOIN sizes sa ON doc_a = sa.doc_id
       |    JOIN sizes sb ON doc_b = sb.doc_id)
       |SELECT bin, count(*) AS n_pairs,
       |  floor(min(jaccard) * 1e9 + 0.5) / 1e9 AS min_j,
       |  floor(max(jaccard) * 1e9 + 0.5) / 1e9 AS max_j
       |FROM scored GROUP BY bin ORDER BY bin""".stripMargin

  /** Distributed PageRank over the near-dup pair graph — centrality
    * for cluster-representative selection (the most-connected member
    * of a duplicate cluster is usually its canonical version; smallest
    * id is a convention, centrality is a policy). Ten power-iteration
    * rounds in FIXED-POINT integer arithmetic: ranks are BIGINT
    * micro-units (SCALE = 1e12), every division is an explicit floor
    * (`div` / `//`), so each iteration is bit-identical on both
    * engines by construction — no order-dependent double accumulation
    * anywhere, and the oracle simply unrolls the same ten iterations
    * as chained CTEs. (Floor division leaks a few micro-units of mass
    * per round; that loss is part of the operator's defined
    * arithmetic, identically on both sides.)
    *
    * Scale shape: the classic join–aggregate power iteration — each
    * round shuffles one (node, contribution) row per EDGE with
    * map-side combine, the driver sees node count once and per-round
    * nothing; lineage is truncated per round (localCheckpoint, the
    * ConnectedComponents convention). Rounds are a fixed 10 — no
    * convergence probe needed.
    */
  private def pairPagerank(s: SparkSession, dir: String): DataFrame =
    pairPagerankWith(s, dir, localFinishEdges = 1 << 16)

  /** The fixed-point arithmetic is pure Long (`div` floors, no
    * doubles), so sums are order-independent and a driver-side
    * endgame reproduces the distributed loop BIT-EXACTLY — the same
    * lever as ConnectedComponents' union-find endgame, for the same
    * measured reason: ten driver-scheduled rounds on a few hundred
    * cached edges cost ~2.5 s of pure job scheduling at any shuffle
    * width. Below the loudly-capped bound the pair list is collected
    * once and the ten iterations run in microseconds; past it the
    * distributed loop is unchanged (`localFinishEdges = 0` forces it
    * — the equality path the spec pins).
    */
  private[graft] def pairPagerankWith(s: SparkSession, dir: String,
      localFinishEdges: Int): DataFrame = {
    require(localFinishEdges <= (1 << 20),
      s"pairPagerank: localFinishEdges=$localFinishEdges — the endgame " +
        "collect is bounded at 2^20 edges")
    val Scale = 1000000000000L
    val iters = 10
    cachedJaccard(s, dir).count()
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val pairs = cachedJaccard(s2, dir).select(col("doc_a"), col("doc_b"))
    if (pairs.count() <= localFinishEdges && localFinishEdges > 0) {
      val es = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val bi = es ++ es.map { case (a, b) => (b, a) }
      val deg = bi.groupBy(_._1).map { case (u, xs) => u -> xs.length.toLong }
      val nodes = bi.map(_._1).distinct.sorted
      val n = nodes.length.toLong
      if (n == 0)
        return s2.emptyDataFrame
          .select(lit(0L).as("doc_id"), lit(0L).as("pr")).limit(0)
      val base = Scale * 15L / 100L / n
      var pr: Map[Long, Long] = nodes.map(_ -> Scale / n).toMap
      for (_ <- 1 to iters) {
        val acc = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        bi.foreach { case (u, v) =>
          // mirror of the distributed round: only nodes present in
          // the CURRENT pr frame contribute (all of them, here —
          // every node of a bidirectional pair graph has in-edges)
          pr.get(u).foreach(p => acc(v) += p / deg(u))
        }
        pr = acc.map { case (v, sum) =>
          v -> (base + 85L * sum / 100L)
        }.toMap
      }
      import s2.implicits._
      return pr.toSeq.sortBy(_._1).toDF("doc_id", "pr")
    }
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .cache()
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val nodes = edges.select(col("u").as("node")).distinct()
    val n = nodes.count() // one scalar; the only thing the driver sees
    if (n == 0) {
      edges.unpersist()
      return s2.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("pr")).limit(0)
    }
    val base = Scale * 15L / 100L / n
    var pr = nodes.withColumn("pr", lit(Scale / n))
    for (_ <- 1 to iters) {
      val contrib = pr.join(deg, pr("node") === deg("u"))
        .select(col("node"), expr("pr div d").as("c"))
      pr = edges.join(contrib, edges("u") === contrib("node"))
        .groupBy(edges("v").as("node"))
        .agg(sum(col("c")).as("s"))
        .select(col("node"), (lit(base) + expr("(85 * s) div 100")).as("pr"))
        .localCheckpoint() // truncate per-round lineage
    }
    edges.unpersist()
    pr.select(col("node").as("doc_id"), col("pr"))
      .orderBy(col("doc_id"))
  }

  /** The oracle unrolls the same ten fixed-point iterations as chained
    * CTEs over the SAME capped pair graph (gdf mirrors the hot-shingle
    * cap, as dd_incremental's oracle does), with `//` floors matching
    * Spark's `div` exactly.
    */
  private val pairPagerankSql: String = {
    val iterCtes = (1 to 10).map { i =>
      s"""pr$i AS (
         |  SELECT e.v AS node,
         |    (SELECT base FROM consts) + (85 * sum(p.pr // d.d)) // 100 AS pr
         |  FROM pr${i - 1} p JOIN deg d ON d.u = p.node
         |    JOIN edges e ON e.u = p.node
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |  WHERE len(ws) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |gdf AS (SELECT g FROM sh GROUP BY g
       |        HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN gdf ON a.g = gdf.g JOIN sh b
       |    ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |    JOIN sizes sa ON doc_a = sa.doc_id
       |    JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
       |consts AS (
       |  SELECT count(DISTINCT u) AS cnt,
       |    1000000000000 // count(DISTINCT u) AS init,
       |    (1000000000000 * 15 // 100) // count(DISTINCT u) AS base
       |  FROM edges),
       |pr0 AS (
       |  SELECT DISTINCT u AS node, (SELECT init FROM consts) AS pr
       |  FROM edges),
       |$iterCtes
       |SELECT node AS doc_id, CAST(pr AS BIGINT) AS pr FROM pr10
       |ORDER BY doc_id""".stripMargin
  }

  /** MinHash cluster assignment — the keep-one-per-cluster surface the
    * staged MinHashDedup API feeds: signatures → banded candidates →
    * exact verification, then connected components
    * ([[graft.dedup.ConnectedComponents.alternatingStars]]) over the
    * verified pair graph, labeling every clustered doc with its
    * component minimum and cluster size. `dd_minhash_survivors` checks
    * the greedy survivor set; this exposes the full cluster structure
    * (what a pipeline needs to pick a representative by quality score
    * instead of by smallest id). The oracle derives the same clusters
    * from exact all-pairs Jaccard via a recursive reachability CTE, so
    * LSH recall is again held to ground truth.
    */
  /** Verified minhash pair set shared across a session (the
    * cachedJaccard convention): signatures → banded candidates → exact
    * verification, built once and cached.
    */
  private val minhashPairsCache = new graft.SessionCache[DataFrame]

  private def cachedMinhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsCache.getOrElseUpdate(s, dir) {
      val docs = Tables(s, dir, "documents")
      graft.dedup.MinHashDedup.verifiedPairs(docs,
        graft.dedup.MinHashDedup.candidatePairs(
          graft.dedup.MinHashDedup.signatures(docs, "doc_id", "text")),
        "doc_id", "text", 0.5).cache()
    }

  private def minhashClusters(s: SparkSession, dir: String): DataFrame = {
    // pair build under the caller's session (AQE on), star loop in the
    // AQE-off narrow clone — the dd_components pattern, same rationale
    cachedMinhashPairs(s, dir).count()
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val pairs = cachedMinhashPairs(s2, dir).select(col("id_a"), col("id_b"))
    val comp = graft.dedup.ConnectedComponents.alternatingStars(pairs)
    comp.select(col("node").as("doc_id"), col("component").as("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .orderBy(col("doc_id"))
  }

  private val minhashClustersSql =
    """WITH RECURSIVE pairs AS (
      |  WITH sh AS (
      |    SELECT doc_id,
      |      unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |    WHERE len(ws) >= 3),
      |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |  inter AS (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2)
      |  SELECT doc_a, doc_b FROM inter
      |    JOIN sizes sa ON doc_a = sa.doc_id
      |    JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
      |edges AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |walk AS (
      |  SELECT doc_a AS node, doc_a AS reach FROM edges
      |  UNION
      |  SELECT e.doc_a AS node, w.reach
      |  FROM edges e JOIN walk w ON e.doc_b = w.node),
      |labels AS (
      |  SELECT node AS doc_id, min(reach) AS cluster FROM walk GROUP BY node)
      |SELECT doc_id, cluster,
      |  count(*) OVER (PARTITION BY cluster) AS cluster_size
      |FROM labels ORDER BY doc_id""".stripMargin

  /** Survivor UPWEIGHTING — dedup-with-counts, the alternative to
    * dropping duplicates when the duplicate MASS itself is signal
    * (the standard move when training wants one copy of each
    * near-dup family sampled proportionally to how often it appeared
    * in the wild): every document gets a verdict row; cluster
    * members collapse onto the min-id representative, which carries
    * `weight = cluster_size`, while its duplicates carry 0 and
    * singletons keep weight 1. This is the sampling-weights artifact
    * a pipeline feeds into cp_dsir_resample-style draws instead of a
    * plain keep mask. Machinery: the minhash pair graph + the
    * CC endgame (cheap now), one left join back onto the corpus —
    * singletons never enter the pair graph, so the join is
    * pair-graph-sized.
    */
  private[queries] def clusterWeights(s: SparkSession, dir: String): DataFrame = {
    cachedMinhashPairs(s, dir).count()
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val pairs = cachedMinhashPairs(s2, dir).select(col("id_a"), col("id_b"))
    val comp = graft.dedup.ConnectedComponents.alternatingStars(pairs)
      .select(col("node").as("doc_id"), col("component"))
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("component"))))
    Tables(s2, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"),
        coalesce(col("csize"), lit(1L)).as("cluster_size"))
      .withColumn("keep", col("doc_id") === col("cluster"))
      .withColumn("weight",
        when(col("keep"), col("cluster_size")).otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  private[queries] val clusterWeightsSql =
    """WITH RECURSIVE pairs AS (
      |  WITH sh AS (
      |    SELECT doc_id,
      |      unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |    WHERE len(ws) >= 3),
      |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |  inter AS (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2)
      |  SELECT doc_a, doc_b FROM inter
      |    JOIN sizes sa ON doc_a = sa.doc_id
      |    JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
      |edges AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |walk AS (
      |  SELECT doc_a AS node, doc_a AS reach FROM edges
      |  UNION
      |  SELECT e.doc_a AS node, w.reach
      |  FROM edges e JOIN walk w ON e.doc_b = w.node),
      |labels AS (
      |  SELECT node AS doc_id, min(reach) AS cluster FROM walk GROUP BY node),
      |sized AS (
      |  SELECT doc_id, cluster,
      |    count(*) OVER (PARTITION BY cluster) AS csize
      |  FROM labels)
      |SELECT d.doc_id,
      |  coalesce(cluster, d.doc_id) AS cluster,
      |  CAST(coalesce(csize, 1) AS BIGINT) AS cluster_size,
      |  d.doc_id = coalesce(cluster, d.doc_id) AS keep,
      |  CAST(CASE WHEN d.doc_id = coalesce(cluster, d.doc_id)
      |    THEN coalesce(csize, 1) ELSE 0 END AS BIGINT) AS weight
      |FROM documents d LEFT JOIN sized USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Streaming ingest gate — `graft.streaming.IncrementalIngest`
    * drives [[graft.dedup.IncrementalDedup]] through a real
    * multi-micro-batch Structured Streaming run (foreachBatch +
    * versioned persisted artifacts): even docs are the pre-accepted
    * seed, odd docs arrive as TWO micro-batches (doc_id % 4 == 1 then
    * % 4 == 3). The oracle unrolls both stages: a batch-2 doc is a dup
    * of any seed doc, any batch-1 KEEPER (rejects never enter the
    * accepted set), or an earlier batch-2 doc; each stage's
    * hot-shingle cap counts only that stage's bucket universe, exactly
    * as screen() builds its buckets.
    */
  private def incrementalIngest(s: SparkSession, dir: String): DataFrame =
    graft.streaming.IncrementalIngest.ingest(s, dir,
      threshold = 0.5, shingleK = ShingleK, maxShingleDf = MaxShingleDf)

  /** The same two-arrival ingest with LSM delta compaction LIVE on the
    * stream path: after batch 1 publishes, the delta chain (seed + d1)
    * folds into one compacted artifact and batch 2 screens against it.
    * Shares [[incrementalIngestSql]] verbatim — compaction is
    * maintenance, not semantics, and the shared oracle is the proof.
    */
  private def ingestCompacted(s: SparkSession, dir: String): DataFrame =
    graft.streaming.IncrementalIngest.ingest(s, dir,
      threshold = 0.5, shingleK = ShingleK, maxShingleDf = MaxShingleDf,
      compactEvery = 2)

  /** FOUR real micro-batches through the ingest gate with LIVE delta
    * compaction at the measured amortization optimum (cadence 4: the
    * fold fires once, at batch 4's start, after the chain has grown
    * to 3 deltas — SCALING.md's 12-batch sf1* table's optimum, 82 s
    * never-compact vs 44 s cadence 4). Cadence A/B at sf0.1 on this
    * 4-batch fixture, steal-clean 3-rep medians (r19): cadence 2
    * (3 folds) 16.7 s, cadence 4 (1 fold) 11.0 s — at this batch
    * count the fold costs more than the longer-chain reads it saves,
    * so the suite entry runs the optimum and `evs_ingest_compacted`
    * plus IncrementalIngestSpec keep the every-batch-folds cadence
    * covered under the oracle gate. The two-arrival queries above pin
    * the gate's semantics; this one pins the LSM shape the gate
    * actually runs at on a crawl: the delta chain grows, compaction
    * collapses it, later batches screen the compacted artifact, and
    * verdicts stay byte-equal to the never-compacted chain (the
    * invariance IncrementalIngestSpec proves).
    * Oracle: the same stage unrolled FOUR times — batch b's screen
    * sees even docs ∪ kept(1..b−1) ∪ its own earlier-id arrivals,
    * generated from one loop so the unroll depth cannot drift.
    */
  private def ingestMultibatch(s: SparkSession, dir: String): DataFrame =
    graft.streaming.IncrementalIngest.ingest(s, dir,
      threshold = 0.5, shingleK = ShingleK, maxShingleDf = MaxShingleDf,
      nBatches = 4, compactEvery = 4)

  private val ingestMultibatchSql = {
    val N = 4
    def member(al: String, b: Int) =
      s"($al.doc_id % 2 = 1 AND (($al.doc_id - 1) // 2) % $N = ${b - 1})"
    def memberBare(b: Int) =
      s"(doc_id % 2 = 1 AND ((doc_id - 1) // 2) % $N = ${b - 1})"
    def keptUnion(b: Int) =
      (1 until b).map(j => s"SELECT doc_id FROM kept$j").mkString(" UNION ")
    def priorA(b: Int) = {
      val kept = if (b == 1) "" else s" OR a.doc_id IN (${keptUnion(b)})"
      s"(a.doc_id % 2 = 0$kept OR (${member("a", b)}" +
        " AND a.doc_id < b.doc_id))"
    }
    def universe(b: Int) = {
      val kept = if (b == 1) "" else s" OR doc_id IN (${keptUnion(b)})"
      s"(doc_id % 2 = 0$kept OR ${memberBare(b)})"
    }
    val sb = new StringBuilder
    sb ++= s"""WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |  WHERE len(ws) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin
    for (b <- 1 to N) {
      sb ++= s""",
         |gdf$b AS (SELECT g FROM sh WHERE ${universe(b)}
         |  GROUP BY g HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
         |inter$b AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh a JOIN gdf$b ON a.g = gdf$b.g JOIN sh b ON a.g = b.g
         |  WHERE ${member("b", b)} AND ${priorA(b)}
         |  GROUP BY 1, 2),
         |near$b AS (
         |  SELECT doc_b AS doc_id, min(doc_a) AS near_of FROM inter$b
         |    JOIN sizes sa ON doc_a = sa.doc_id
         |    JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
         |  GROUP BY 1),
         |exact$b AS (
         |  SELECT b.doc_id AS doc_id, min(a.doc_id) AS exact_of
         |  FROM fp b JOIN fp a ON a.fp = b.fp AND ${priorA(b)}
         |  WHERE ${member("b", b)} GROUP BY 1),
         |v$b AS (
         |  SELECT doc_id, exact_of, near_of,
         |    exact_of IS NULL AND near_of IS NULL AS keep
         |  FROM (SELECT doc_id FROM documents WHERE ${memberBare(b)})
         |    LEFT JOIN exact$b USING (doc_id)
         |    LEFT JOIN near$b USING (doc_id)),
         |kept$b AS (SELECT doc_id FROM v$b WHERE keep)""".stripMargin
    }
    sb ++= "\n"
    sb ++= (1 to N).map(b =>
      s"SELECT doc_id, exact_of, near_of, keep, $b AS arrival_batch FROM v$b")
      .mkString("\nUNION ALL\n")
    sb ++= "\nORDER BY doc_id"
    sb.toString
  }

  private val incrementalIngestSql = {
    // one stage of the unrolled gate: `bsel` picks the arriving batch,
    // `prior` decides which docs qualify as the earlier side
    def stage(n: Int, bsel: String, prior: String, universe: String) =
      s"""gdf$n AS (SELECT g FROM sh WHERE $universe
         |  GROUP BY g HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
         |inter$n AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh a JOIN gdf$n ON a.g = gdf$n.g JOIN sh b ON a.g = b.g
         |  WHERE b.$bsel AND ${prior.replace("A.", "a.").replace("B.", "b.")}
         |  GROUP BY 1, 2),
         |near$n AS (
         |  SELECT doc_b AS doc_id, min(doc_a) AS near_of FROM inter$n
         |    JOIN sizes sa ON doc_a = sa.doc_id
         |    JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
         |  GROUP BY 1),
         |exact$n AS (
         |  SELECT b.doc_id AS doc_id, min(a.doc_id) AS exact_of
         |  FROM fp b JOIN fp a
         |    ON a.fp = b.fp AND ${prior.replace("A.", "a.").replace("B.", "b.")}
         |  WHERE b.$bsel GROUP BY 1),
         |v$n AS (
         |  SELECT doc_id, exact_of, near_of,
         |    exact_of IS NULL AND near_of IS NULL AS keep
         |  FROM (SELECT doc_id FROM documents WHERE $bsel)
         |    LEFT JOIN exact$n USING (doc_id)
         |    LEFT JOIN near$n USING (doc_id))""".stripMargin
    s"""WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |  WHERE len(ws) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |${stage(1, "doc_id % 4 = 1",
          "(A.doc_id % 2 = 0 OR (A.doc_id % 4 = 1 AND A.doc_id < B.doc_id))",
          "doc_id % 2 = 0 OR doc_id % 4 = 1")},
       |kept1 AS (SELECT doc_id FROM v1 WHERE keep),
       |${stage(2, "doc_id % 4 = 3",
          "(A.doc_id % 2 = 0 OR A.doc_id IN (SELECT doc_id FROM kept1)" +
            " OR (A.doc_id % 4 = 3 AND A.doc_id < B.doc_id))",
          "doc_id % 2 = 0 OR doc_id IN (SELECT doc_id FROM kept1)" +
            " OR doc_id % 4 = 3")}
       |SELECT doc_id, exact_of, near_of, keep, 1 AS arrival_batch FROM v1
       |UNION ALL
       |SELECT doc_id, exact_of, near_of, keep, 2 AS arrival_batch FROM v2
       |ORDER BY doc_id""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup in embedding space —
    * k-means-cluster the corpus, then drop near-identical pairs ONLY
    * within a cluster, keeping the lowest id. Cluster scoping is what
    * makes it tractable: candidate pairs are bounded per cluster, so
    * the quadratic term is (corpus/k)² per bucket, not corpus² — the
    * published method's exact trick, and the same bucket-join shape as
    * the rest of the dedup tier (no n² cross join). At 100 TB the
    * cluster count grows WITH the corpus (the paper runs ~100k
    * clusters; k ≈ n/1000 keeps each bucket's pair count constant) —
    * the fixture's k = 16 is scaled to its 500 vectors. Centroids here are
    * the fixed first-16 convention shared with `sim_knn_ivf` so the
    * oracle can mirror the assignment; `sim_kmeans_ivf` demonstrates
    * the trained version of the same loop. Output is a per-vector
    * verdict (cluster, dup_of, keep) — the resampling mask a pipeline
    * consumes downstream.
    */
  private def semDedup(s: SparkSession, dir: String): DataFrame = {
    val nCentroids = 16
    val e = Tables(s, dir, "embeddings")
      .withColumn("nrm", TextFns.norm(col("embedding")))
    // centroid matrix on the driver (nCentroids x dim floats, promoted
    // losslessly); assignment is ONE narrow NearestCentroids projection
    // — no corpus x centroids row fan-out, no rank window, constant
    // plan width in the cluster count (the shape that survives the
    // paper's ~100k clusters)
    val cm: Seq[Seq[Double]] = e.filter(col("vec_id") < nCentroids)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val assigned = e
      .withColumn("cent_id",
        graft.functions.NearestCentroids(col("embedding"), cm, 1)
          .getItem(0).getField("cid").cast("long"))
      .select(col("vec_id"), col("cent_id"), col("embedding"), col("nrm"))
    val a = assigned.select(col("cent_id"), col("vec_id").as("id_a"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cent_id"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val dupOf = a.join(b, Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosv", TextFns.cosineFrom(
        TextFns.dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cosv") >= 0.4)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
      .withColumnRenamed("id_b", "vec_id")
    assigned.select(col("vec_id"), col("cent_id"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  private val semDedupSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT e.vec_id, cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(v, cv) DESC, cent_id) AS r
      |    FROM e, cents) WHERE r = 1),
      |dup_of AS (
      |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
      |  FROM assigned a JOIN assigned b
      |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id
      |  JOIN e eb ON eb.vec_id = b.vec_id
      |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4
      |  GROUP BY 1)
      |SELECT vec_id, cent_id, dup_of, dup_of IS NULL AS keep
      |FROM assigned LEFT JOIN dup_of USING (vec_id)
      |ORDER BY vec_id""".stripMargin

  /** SemDeDup over TRAINED clusters — the paper's actual protocol
    * (k-means the corpus, then dedup within clusters), where
    * `dd_semdedup` uses the fixed-seed convention. Two deterministic
    * Lloyd passes (the sim_kmeans_ivf loop: narrow NearestCentroids
    * assignment, decimal-exact per-dimension means, empty clusters
    * keep their centroid — driver sees k×dim doubles per pass), then
    * the cluster-scoped pair verdict. Better centroids mean tighter
    * clusters and fewer cross-cluster misses; the plan shapes are
    * identical to the untrained variant. The oracle unrolls the same
    * two passes as CTEs and replays the verdict.
    */
  private def semDedupTrained(s: SparkSession, dir: String): DataFrame = {
    val nCent = 16
    val e = Tables(s, dir, "embeddings")
      .withColumn("dv", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", TextFns.norm(col("embedding")))
    var cents: Seq[(Int, Seq[Double])] = e.filter(col("vec_id") < nCent)
      .select(col("vec_id"), col("dv")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).sortBy(_._1).toSeq
    def assign(df: DataFrame): DataFrame = df.withColumn("cid",
      graft.functions.NearestCentroids(col("dv"), cents.map(_._2), 1)
        .getItem(0).getField("cid"))
    for (_ <- 1 to 2) {
      val means = assign(e)
        .select(col("cid"), posexplode(col("dv")).as(Seq("d", "v")))
        .groupBy(col("cid"), col("d"))
        .agg((sum(col("v").cast(DecimalType(18, 9))).cast("double") /
          count(lit(1))).as("m"))
        .collect().groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    val assigned = assign(e)
      .select(col("vec_id"), col("cid"), col("embedding"), col("nrm"))
    val a = assigned.select(col("vec_id").as("id_a"), col("cid"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("vec_id").as("id_b"), col("cid"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val dupOf = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosv", TextFns.cosineFrom(
        TextFns.dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cosv") >= 0.4)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
      .withColumnRenamed("id_b", "vec_id")
    assigned.select(col("vec_id"), col("cid").as("cent_id"))
      .join(dupOf, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
      .orderBy(col("vec_id"))
  }

  private val semDedupTrainedSql: String = {
    def stepSql(prev: String, n: Int): String =
      s"""a$n AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS arnk
         |    FROM e, $prev)
         |  WHERE arnk = 1),
         |m$n AS (
         |  SELECT cid, list(m ORDER BY d) AS newcv FROM (
         |    SELECT cid, d,
         |      CAST(sum(CAST(v[d] AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS m
         |    FROM a$n, (SELECT unnest(range(1, 65)) AS d)
         |    GROUP BY cid, d)
         |  GROUP BY cid),
         |c$n AS (
         |  SELECT cid, coalesce(newcv, cv) AS cv
         |  FROM $prev LEFT JOIN m$n USING (cid))""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv
       |  FROM e WHERE vec_id < 16),
       |${stepSql("c0", 1)},
       |${stepSql("c1", 2)},
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS arnk
       |    FROM e, c2)
       |  WHERE arnk = 1),
       |dup_of AS (
       |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
       |  FROM assigned a JOIN assigned b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4
       |  GROUP BY 1)
       |SELECT vec_id, cid AS cent_id, dup_of, dup_of IS NULL AS keep
       |FROM assigned LEFT JOIN dup_of USING (vec_id)
       |ORDER BY vec_id""".stripMargin
  }

  /** EXACT all-pairs Jaccard >= t via PREFIX FILTERING (the AllPairs /
    * PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08) — the
    * exactness-preserving alternative to the df-capped inverted index
    * behind `dd_ngram_jaccard`. Each doc's distinct shingles are sorted
    * by GLOBAL rarity (document frequency asc, shingle asc — any total
    * order works; rarity minimizes bucket sizes) and only the first
    * p = n - ceil(t*n) + 1 shingles are indexed: two sets with
    * J >= t MUST share a token inside both prefixes under a common
    * total order (if a's prefix and b's token set were disjoint,
    * |a ∩ b| <= n_a - p_a < ceil(t*n_a) <= ceil(t*max) <= |a ∩ b| —
    * contradiction), so no qualifying pair is missed — no df cap, no
    * exactness caveat.
    *
    * Scale shape: the rarity sort needs NO global rank — each doc
    * sorts its own (df, shingle) structs locally after one df join;
    * the inverted index holds only prefixes, and the bucket for
    * shingle g fans out <= df(g)² pairs while prefix membership skews
    * mass toward the rarest shingles (a hot shingle is by definition
    * late in every doc's rarity order, so it rarely enters a prefix).
    * Candidates then pass the size filter (t*max <= min) before the
    * exact intersection join touches full shingle sets. Output equals
    * `dd_ngram_jaccard` (same space, same threshold) — by two
    * different algorithms, which is itself a cross-check.
    */
  /** The per-doc rarity-sorted shingle index feeds THREE consumers
    * inside one prefixJaccardPairs run (the prefix explode and both
    * sides of the verification join); a per-invocation `.cache()`
    * left pinned per call is the r11 eviction lesson and an eager
    * checkpoint re-materializes the sorted output the bench action
    * never needs — so the index is pinned once per (session, dir),
    * the orientedEdgesCache convention.
    */
  private val prefixDocsCache = new graft.SessionCache[DataFrame]

  private def prefixJaccard(s: SparkSession, dir: String): DataFrame =
    // the cached index bakes in the threshold (the prefix length
    // column p depends on t), so t is part of the key (r21 advice) —
    // a second threshold would otherwise silently reuse the wrong
    // prefixes and drop candidate pairs
    prefixJaccardPairsFrom(prefixDocsCache.getOrElseUpdate(s, s"$dir|t=0.5")(
      prefixDocsIndex(cachedShingles(s, dir), 0.5).cache()), 0.5)

  /** The AllPairs/PPJoin core over an arbitrary distinct (doc_id, g)
    * shingle relation — factored so PrefixJaccardSpec can check the
    * prefix bound against brute force on random corpora (the fixture
    * oracle pins only one data shape; the bound's edge cases — tiny
    * sets, identical sets, prefix length 1 — need adversarial input).
    */
  private[graft] def prefixJaccardPairs(
      shingles: DataFrame, t: Double): DataFrame =
    prefixJaccardPairsFrom(prefixDocsIndex(shingles, t), t)

  /** Per-doc rarity-sorted shingle array + its prefix — the index the
    * pair join reads three times (pin it; see prefixDocsCache).
    */
  private[graft] def prefixDocsIndex(
      shingles: DataFrame, t: Double): DataFrame = {
    val dfreq = shingles.groupBy(col("g")).agg(count(lit(1)).as("df"))
    shingles.join(dfreq, "g")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("g"))))
        .as("sorted"), count(lit(1)).as("n"))
      .withColumn("p", col("n") - ceil(lit(t) * col("n")).cast("int") + 1)
  }

  private[graft] def prefixJaccardPairsFrom(
      docs: DataFrame, t: Double): DataFrame = {
    val prefixes = docs
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("sorted"), lit(1), col("p").cast("int")))
          .as(Seq("pos0", "pg")))
      .select(col("doc_id"), col("n"), (col("pos0") + 1).as("pos"),
        col("pg.g").as("g"))
    // candidates: share a prefix shingle, pass the size filter AND the
    // POSITIONAL filter (the PPJoin refinement; Xiao et al. WWW'08,
    // in its pair-aggregate form). Under the common rarity total
    // order, every common token ordered before the LAST shared prefix
    // token lies inside BOTH prefixes (its positions are < pa_last and
    // < pb_last, both within the prefix bounds) — so the count c of
    // shared prefix tokens counts ALL common tokens up to that point
    // exactly, and only the tails past (max pa, max pb) are unknown:
    // overlap ≤ c + min(na − max(pa), nb − max(pb)). J ≥ t ⟺
    // overlap ≥ t/(1+t)·(na+nb); a hair of slack (1e−9) keeps FP
    // rounding of t/(1+t) from ever pruning a boundary-true pair
    // (bounds and overlaps are integers, the alpha error ~1e−13).
    // Measured at sf0.1: verify input 309,803 → 119,907 candidate
    // pairs (61% pruned; 256 true) and the end-to-end uncached
    // pipeline 15.7 → 5.9 s in same-JVM A/B; at sf1* candidates land
    // at 135k for 2,466 true pairs. The weaker per-token bound
    // min(pa−1,pb−1)+1+min(na−pa,nb−pb) pruned only 0.4% here — the
    // before-credit is too generous under rarity order; counting c
    // exactly is what bites.
    val alpha = lit(t / (1 + t)) * (col("na") + col("nb")) - lit(1e-9)
    val cands = prefixes.groupBy(col("g"))
      .agg(collect_list(struct(col("doc_id"), col("n"), col("pos")))
        .as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(flatten(transform(col("ds"), a =>
        transform(filter(col("ds"), b => b.getField("doc_id") >
            a.getField("doc_id")),
          b => struct(a.getField("doc_id").as("doc_a"),
            b.getField("doc_id").as("doc_b"),
            a.getField("n").as("na"), b.getField("n").as("nb"),
            a.getField("pos").as("pa"), b.getField("pos").as("pb"))))))
        .as("c"))
      .select(col("c.doc_a"), col("c.doc_b"), col("c.na"), col("c.nb"),
        col("c.pa"), col("c.pb"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"),
        max(col("pa")).as("mpa"), max(col("pb")).as("mpb"))
      .filter(col("shared") +
        least(col("na") - col("mpa"), col("nb") - col("mpb")) >= alpha)
      .filter(least(col("na"), col("nb")) >=
        ceil(lit(t) * greatest(col("na"), col("nb"))))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
    // exact verification on full shingle sets, candidates only — the
    // sets ride as per-doc ARRAYS (two key joins, one array_intersect
    // per pair, O(na+nb) each) instead of exploding candidates ×
    // shingles through a shuffle + re-aggregate, which moves ~|doc|×
    // more rows for the same intersection counts
    val docArrs = docs.select(col("doc_id"),
      transform(col("sorted"), x => x.getField("g")).as("gs"))
    val out = cands
      .join(docArrs.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("gs", "ga"), "doc_a")
      .join(docArrs.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("gs", "gb"), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
    out
  }

  /** Triangle census of the near-dup CANDIDATE graph — pairs sharing
    * at least TWO shingles (one shared shingle is mostly chance
    * collision; two is where candidacy starts meaning something, and
    * the single-shingle graph is ~10× denser with no extra signal):
    * per-node triangle participation, top 20. High triangle density
    * around a node marks boilerplate families (its candidates are
    * candidates of each other), the signal that separates template
    * clusters from chance shingle collisions.
    *
    * The count uses the degree-ordered node-iterator: orient every
    * edge from its (degree, id)-smaller endpoint, enumerate wedges at
    * each node over its OUT-neighbors only, close them against the
    * oriented edge set. Out-degrees are bounded (a node's out-edges go
    * only to higher-degree nodes, so out-degree <= sqrt(2m)), giving
    * the O(m^1.5) bound that survives skew — the naive
    * wedge-at-every-node join explodes on hub nodes. Each triangle is
    * found exactly once (at its unique (deg, id)-minimal corner).
    */
  /** The (deg,id)-oriented candidate edge set feeds THREE consumers
    * inside `triangles` (both wedge sides and the closing join);
    * without materialization each consumer re-runs the degree
    * aggregate + two degree joins over the cached pair index —
    * measured 3.0 vs 1.5 s at sf0.1 (r10 drift root-cause). A
    * SessionCache'd `.cache()` gives ONE evictable copy per session,
    * reused across bench repetitions — the r11 eager
    * `localCheckpoint()` here pinned a fresh, never-unpersisted block
    * set per invocation (3 reps = 3 copies), pressuring the storage
    * pool until the shared dd indexes were evicted mid-suite
    * (fam_dd 54→79 s driver-side).
    */
  private val orientedEdgesCache = new graft.SessionCache[DataFrame]

  private def cachedOrientedEdges(s: SparkSession, dir: String): DataFrame =
    orientedEdgesCache.getOrElseUpdate(s, dir) {
      val e = cachedScoredPairs(s, dir)
        .filter(col("n_inter") >= 2)
        .select(col("doc_a"), col("doc_b"))
      val deg = e.select(col("doc_a").as("n"))
        .unionByName(e.select(col("doc_b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      // orient by (degree, id): src = smaller endpoint under that
      // order; dst keeps its (deg, id) key so wedge pairs order
      // without another degree join
      val withDeg = e
        .join(deg.withColumnRenamed("n", "doc_a").withColumnRenamed("d", "da"),
          "doc_a")
        .join(deg.withColumnRenamed("n", "doc_b").withColumnRenamed("d", "db"),
          "doc_b")
      val keyA = struct(col("da").as("d"), col("doc_a").as("i"))
      val keyB = struct(col("db").as("d"), col("doc_b").as("i"))
      withDeg.select(
        when(keyA < keyB, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(keyA < keyB, keyB).otherwise(keyA).as("dst"))
        .cache()
    }

  private def triangles(s: SparkSession, dir: String): DataFrame = {
    val oriented = cachedOrientedEdges(s, dir)
    // wedges at src over (deg,id)-ordered out-neighbor pairs, closed
    // against the oriented edge (v1 -> v2)
    val o1 = oriented.select(col("src"), col("dst").as("v1"))
    val o2 = oriented.select(col("src"), col("dst").as("v2"))
    val tri = o1.join(o2, "src").filter(col("v1") < col("v2"))
      .join(oriented.select(col("src").as("cs"),
          col("dst").getField("i").as("cd")),
        col("v1").getField("i") === col("cs") &&
          col("v2").getField("i") === col("cd"))
      .select(col("src").as("u"), col("v1").getField("i").as("v"),
        col("v2").getField("i").as("w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("doc_id"))
      .limit(20)
  }

  // the oracle enumerates each triangle once at its canonical a<b<c
  // corner — orientation-free (exactness doesn't need the degree
  // trick, only the distributed join does)
  private val trianglesSql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3),
      |e AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |tri AS (
      |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      |  FROM e e1
      |    JOIN e e2 ON e2.doc_a = e1.doc_b
      |    JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
      |nodes AS (
      |  SELECT a AS doc_id FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |SELECT doc_id, count(*) AS n_triangles FROM nodes
      |GROUP BY doc_id ORDER BY n_triangles DESC, doc_id LIMIT 20""".stripMargin

  /** Asymmetric CONTAINMENT dedup: C(a,b) = |A∩B| / min(|A|,|B|) —
    * catches doc-in-doc duplication (quoting, boilerplate wrapping,
    * truncated re-crawls) that symmetric Jaccard structurally misses:
    * a 50-shingle doc fully embedded in a 500-shingle doc has C = 1.0
    * but J ≤ 0.1. Emits pairs with containment ≥ ContainT that the Jaccard
    * pass (threshold 0.5) does NOT emit — exactly the duplication a
    * Jaccard-only dedup leaves in the corpus.
    *
    * Candidate space: the same df-capped inverted index as
    * `dd_ngram_jaccard` (buckets with df > MaxShingleDf dropped
    * whole) — but unlike the Jaccard threshold there is NO exactness
    * argument against the cap here (a small all-boilerplate doc can
    * hide entirely in hot buckets), so the cap is part of this
    * query's CONTRACT and the oracle applies the identical df
    * filter. Production tunes MaxShingleDf against the hot-shingle
    * histogram; the capped index is what bounds the bucket fan-out
    * at 100 TB.
    */
  private def containment(s: SparkSession, dir: String): DataFrame =
    cachedScoredPairs(s, dir)
      .withColumn("n_small", least(col("na"), col("nb")))
      .withColumn("containment",
        col("n_inter").cast("double") / col("n_small"))
      .filter(col("containment") >= ContainT && col("jaccard") < 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_small"),
        col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))

  // identical df-capped candidate space: shingles in > MaxShingleDf
  // docs are excluded from the intersection count (bucket dropped
  // whole), exactly as the Spark inverted index does; sizes stay
  // uncapped on both sides
  private val containmentSql =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |  WHERE len(ws) >= 3),
       |hot AS (SELECT g FROM sh GROUP BY g HAVING count(*) > $MaxShingleDf),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  WHERE a.g NOT IN (SELECT g FROM hot)
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter,
       |  least(sa.n, sb.n) AS n_small,
       |  CAST(n_inter AS DOUBLE) / least(sa.n, sb.n) AS containment
       |FROM inter
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(n_inter AS DOUBLE) / least(sa.n, sb.n) >= $ContainT
       |  AND CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) < 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-doc duplicated-SPAN coverage — the substring-level dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL'22) re-expressed set-at-a-time: every
    * SpanW-token window is a span; a span is duplicated if it occurs
    * in ≥ 2 distinct documents; each doc reports the fraction of its
    * DISTINCT spans that are duplicated (the trim/cut signal — docs
    * above a coverage threshold are mostly copied text even when no
    * single whole-doc pair crosses a Jaccard bar). Top 20 by coverage.
    *
    * Scale shape: spans come off the same codegen'd WordShingles
    * expression as the Jaccard tier (distinct within doc — no
    * per-position blow-up); the span-frequency table aggregates
    * map-side before its one shuffle, and the join back to per-doc
    * rows is key-keyed (one row per span — no bucket fan-out, so no
    * df cap needed: a hot boilerplate span costs its occurrence count,
    * not its square). Wider spans (SpanW=8 vs the Jaccard tier's 3)
    * keep the frequency table sparse on natural text.
    */
  private def spanDupes(s: SparkSession, dir: String): DataFrame = {
    val sp = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.WordShingles(col("text"), SpanW)).as("g"))
    val spanDocs = sp.groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
    sp.join(spanDocs, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        col("n_dup_spans").cast("double") / col("n_spans"))
      .orderBy(col("dup_frac").desc, col("doc_id"))
      .limit(20)
  }

  private val spanDupesSql = {
    val cat = (0 until SpanW).map(o => s"ws[i+$o]").mkString(" || ' ' || ")
    s"""WITH sp AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(
       |      range(1, len(ws) - ${SpanW - 2}), i -> $cat))) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |  WHERE len(ws) >= $SpanW),
       |freq AS (SELECT g, count(*) AS n_docs FROM sp GROUP BY g)
       |SELECT doc_id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_spans,
       |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS dup_frac
       |FROM sp JOIN freq USING (g)
       |GROUP BY doc_id ORDER BY dup_frac DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Exact repeated-substring spans — the canonical training-data
    * dedup modality (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22: remove every position covered
    * by a duplicated ≥k-token window), expressed as sorted k-gram
    * chains instead of a suffix array: group identical k-token grams
    * by position, mark a position duplicated when its gram occurs ≥2
    * times anywhere in the corpus (other docs OR self-repetition —
    * boilerplate inside one doc counts, exactly as the suffix-array
    * formulation would), then extend maximal runs of CONSECUTIVE
    * duplicated positions per doc with one gaps-and-islands window: a
    * run of L consecutive duplicated gram starts covers a repeated
    * span of L+k−1 tokens. Output: the span-length histogram (spans /
    * affected docs per length) — the report a dedup pass reads before
    * choosing its cut threshold. Complements the approximations
    * already in the family (dd_cdc_chunks, dd_span_dupes, ta_winnow_fp
    * fingerprint coverage): this one is EXACT up to md5 collision and
    * positional, so the spans are actually removable.
    *
    * k = 20 tokens here (fixture docs are 10–99 tokens; the canonical
    * web-corpus choice is 50 BPE tokens — k is a constant, not a
    * semantic: every plan shape below is k-independent).
    *
    * Scale shape — the suffix-array alternative needs a global sort
    * of every suffix; this needs three key-partitioned shuffles, all
    * map-side combinable: (1) grams md5-hashed BEFORE the shuffle so
    * the exchange carries 32-byte keys, never 20-token strings;
    * (2) the dup filter aggregates to one row per duplicated gram, so
    * the join back fans out to exactly the duplicated POSITIONS —
    * a hot boilerplate gram costs its occurrence count, not its
    * square (no doc-pair term anywhere, unlike pairwise extension);
    * (3) the run extension is one window over (doc_id, pos) — the
    * same one-shuffle gaps-and-islands plan as sessionization. At
    * 100 TB the histogram is bounded by max doc length, and the only
    * corpus-sized exchanges are the two gram-keyed ones.
    */
  /** (doc_id, pos, g): every k-window start position with its md5
    * fingerprint, at the config's token granularity. `word` slices the
    * whitespace token array; `bpe` slices the sentinel-coded BPE
    * symbol string (one char per token — TextAnalysis.bpeEncode, the
    * replace-chain tokenizer the true-count oracle proves), spaces
    * stripped AFTER encoding so windows span pre-token boundaries the
    * way word windows span words.
    */
  private def substringGrams(cfg: SubstringDedupConfig,
      docs: DataFrame): DataFrame = {
    val k = cfg.k
    // graft.functions.GramMd5s: one compiled pass per document
    // (tokenize + window + md5) instead of the interpreted
    // transform(sequence(...)) HOF chain; empty array below k tokens,
    // so no pre-filter is needed
    cfg.granularity match {
      case "word" =>
        docs.select(col("doc_id"),
            posexplode(graft.functions.GramMd5s(col("text"), k,
              words = true)))
          .toDF("doc_id", "pos", "g")
      case _ =>
        docs.select(col("doc_id"),
            posexplode(graft.functions.GramMd5s(
              replace(TextAnalysis.bpeEncode(col("text")), lit(" "),
                lit("")), k, words = false)))
          .toDF("doc_id", "pos", "g")
    }
  }

  /** (doc_id, n_tokens) at the config's granularity — the trim
    * denominator.
    */
  private def substringTokenCounts(cfg: SubstringDedupConfig,
      docs: DataFrame): DataFrame = cfg.granularity match {
    case "word" =>
      docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    case _ =>
      docs.select(col("doc_id"),
        length(replace(TextAnalysis.bpeEncode(col("text")), lit(" "),
          lit(""))).cast("long").as("n_tokens"))
  }

  /** Positions whose gram repeats ≥2× corpus-wide — the shared front
    * end of the substring-dedup pair. ONE gram-mass shuffle: the
    * per-gram occurrence count is a whole-partition window over the
    * gram key, so the gram pipeline (tokenize → enumerate → hash)
    * executes ONCE and the duplicate test rides the same exchange the
    * previous aggregate-then-join-back shape paid twice for (the
    * aggregate shuffled every gram row, and the join shuffled them
    * all again — with the gram pipeline re-executed on the join leg).
    * Measured at sf0.1/sf1*: bpe 5.97→2.32 / 16.92→3.88 s, word
    * 1.96→1.31 / 4.64→1.76 s (same rows at every point).
    */
  private def dupPositions(cfg: SubstringDedupConfig,
      docs: DataFrame): DataFrame =
    substringGrams(cfg, docs)
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"), col("pos"))

  private[graft] def substringSpansWith(cfg: SubstringDedupConfig)(
      s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = dupPositions(cfg, Tables(s, dir, "documents"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) === 1, 0).otherwise(1))
      .withColumn("run_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run_id"))
      .agg((count(lit(1)) + lit(cfg.k - 1).cast("long")).as("span_tokens"))
    runs.groupBy(col("span_tokens"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("span_tokens"))
  }

  private def substringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpansWith(SubstringDedupConfig.Default)(s, dir)

  /** Per-document CROSS-DOC duplicate-gram fraction — the dedup-debt
    * readout: what share of a doc's 5-gram occurrences also appear in
    * at least one OTHER document. Where [[substringSpans]] reports the
    * corpus's duplicated-span histogram, this scores each doc (the
    * signal curation ranks by before deciding whether substring dedup
    * is worth a pass, and the per-doc weight CC-style pipelines feed
    * into sampling). Cross-doc — a gram repeated only within its own
    * doc does not count — so the dup test is distinct-doc occupancy,
    * not raw occurrence count.
    *
    * Scale shape: the gram mass shuffles ONCE into the (gram, doc)
    * pre-aggregation (map-side combinable); the occupancy window then
    * rides the REDUCED per-(gram,doc) rows — bounded by distinct
    * grams × docs-containing-them, typically ~the gram mass only on
    * pathological corpora — and the final per-doc rollup carries one
    * row per (gram, doc). No join ever re-expands the gram pipeline
    * (the lesson the r17 substring front-end rebuild measured).
    */
  private def dupgramFraction(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val perDocGram = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.GramMd5s(col("text"), k, words = true))
          .as("g"))
      .groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("cnt"))
    perDocGram
      .withColumn("n_docs",
        count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(0L))
          .as("n_dup"))
      .withColumn("dup_frac",
        graft.Quant.qdec(col("n_dup").cast("double") / col("n_grams"), 9))
      .orderBy(col("doc_id"))
  }

  private val dupgramFractionSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |g AS (
      |  SELECT doc_id, md5(array_to_string(ws[i:i+4], ' ')) AS g
      |  FROM t, unnest(range(1, len(ws) - 3)) AS u(i)),
      |pdg AS (
      |  SELECT g, doc_id, count(*) AS cnt FROM g GROUP BY 1, 2),
      |occ AS (
      |  SELECT doc_id, cnt,
      |    count(*) OVER (PARTITION BY g) AS n_docs
      |  FROM pdg)
      |SELECT doc_id,
      |  CAST(sum(cnt) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
      |    AS n_dup,
      |  floor(CAST(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END)
      |      AS DOUBLE) / sum(cnt) * 1e9 + 0.5) / 1e9 AS dup_frac
      |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** [[substringSpans]] at 50-BPE-token granularity — the canonical
    * Lee et al. ACL'22 setting (k = 50 BPE tokens), runnable because
    * the tokenizer is the sentinel-coded replace chain whose
    * char-per-symbol output makes BPE windows ordinary substrings.
    */
  private def substringSpansBpe(s: SparkSession, dir: String): DataFrame =
    substringSpansWith(SubstringDedupConfig.Bpe)(s, dir)

  private val substringSpansSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= $SpanK),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(ws[i:i+${SpanK - 1}], ' ')) AS g
       |  FROM t, unnest(range(1, len(ws) - ${SpanK} + 2)) AS u(i)),
       |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
       |m AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos)
       |        OVER (PARTITION BY doc_id ORDER BY pos) = 1
       |      THEN 0 ELSE 1 END AS brk
       |  FROM g JOIN dup USING (g)),
       |r AS (
       |  SELECT doc_id, sum(brk) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |  FROM m),
       |runs AS (
       |  SELECT doc_id, run_id,
       |    count(*) + ${SpanK - 1} AS span_tokens
       |  FROM r GROUP BY 1, 2)
       |SELECT CAST(span_tokens AS BIGINT) AS span_tokens,
       |  count(*) AS n_spans, count(DISTINCT doc_id) AS n_docs
       |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin

  // same chain at BPE granularity: the replace-chain tokenizer emits
  // one char per BPE symbol, so a k-token window is substring(enc,i,k)
  private val substringSpansBpeSql = {
    val k = SubstringDedupConfig.Bpe.k
    s"""WITH t AS (
       |  SELECT doc_id,
       |    replace(${TextAnalysis.bpeEncodeSql("text")}, ' ', '') AS enc
       |  FROM documents),
       |tt AS (SELECT doc_id, enc FROM t WHERE length(enc) >= $k),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |    md5(substring(enc, CAST(i AS INTEGER), $k)) AS g
       |  FROM tt, unnest(range(1, length(enc) - $k + 2)) AS u(i)),
       |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
       |m AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos)
       |        OVER (PARTITION BY doc_id ORDER BY pos) = 1
       |      THEN 0 ELSE 1 END AS brk
       |  FROM g JOIN dup USING (g)),
       |r AS (
       |  SELECT doc_id, sum(brk) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |  FROM m),
       |runs AS (
       |  SELECT doc_id, run_id,
       |    count(*) + ${k - 1} AS span_tokens
       |  FROM r GROUP BY 1, 2)
       |SELECT CAST(span_tokens AS BIGINT) AS span_tokens,
       |  count(*) AS n_spans, count(DISTINCT doc_id) AS n_docs
       |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Exact substring-span REMOVAL accounting — the transform half of
    * [[substringSpans]]: Lee et al. don't just report repeated spans,
    * they REMOVE every token position covered by a duplicated
    * ≥k-token window. Coverage is an interval-union problem: each
    * duplicated gram start p covers tokens [p, p+k−1]; two starts
    * whose distance is ≤ k produce contiguous-or-overlapping cover,
    * so islands merge on `gap ≤ k` (note: ≤ k, NOT the +1-adjacency
    * of the span CHAIN — a hole in the start sequence smaller than
    * the window width leaves no hole in coverage), and each island
    * covers `last − first + k` tokens. Output: per doc-id decile,
    * docs / total tokens / covered tokens / retained fraction — the
    * before/after budget a dedup pass publishes when it trims a
    * corpus.
    *
    * Scale shape: identical to substringSpans (two gram-keyed
    * map-combinable shuffles + one per-doc window) plus a doc-keyed
    * left join of per-doc coverage onto per-doc token counts — both
    * sides one row per doc, co-partitioned by the same key.
    */
  private[graft] def substringTrimWith(cfg: SubstringDedupConfig)(
      s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = dupPositions(cfg, docs)
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= cfg.k, 0)
          .otherwise(1))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + lit(cfg.k))
        .cast("long").as("cov"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cov")).as("covered_tokens"))
    substringTokenCounts(cfg, docs)
      .withColumn("decile", col("doc_id") % 10)
      .join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("covered_tokens"), lit(0L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("cov")).as("covered_tokens"))
      .withColumn("retained_frac", Quant.qdec(
        lit(1.0) - col("covered_tokens").cast("double") /
          col("total_tokens"), 9))
      .orderBy(col("decile"))
  }

  private def substringTrim(s: SparkSession, dir: String): DataFrame =
    substringTrimWith(SubstringDedupConfig.Default)(s, dir)

  private val substringTrimSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(ws[i:i+${SpanK - 1}], ' ')) AS g
       |  FROM t, unnest(range(1, len(ws) - ${SpanK} + 2)) AS u(i)
       |  WHERE len(ws) >= $SpanK),
       |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
       |m AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos)
       |        OVER (PARTITION BY doc_id ORDER BY pos) <= $SpanK
       |      THEN 0 ELSE 1 END AS brk
       |  FROM g JOIN dup USING (g)),
       |isl AS (
       |  SELECT doc_id, pos, sum(brk) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM m),
       |cov AS (
       |  SELECT doc_id, sum(cv) AS covered_tokens FROM (
       |    SELECT doc_id, max(pos) - min(pos) + $SpanK AS cv
       |    FROM isl GROUP BY doc_id, island)
       |  GROUP BY doc_id),
       |d AS (
       |  SELECT doc_id, len(ws) AS n_tokens, doc_id % 10 AS decile,
       |    coalesce(covered_tokens, 0) AS cv
       |  FROM t LEFT JOIN cov USING (doc_id))
       |SELECT decile, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(cv) AS BIGINT) AS covered_tokens,
       |  floor((1.0 - CAST(sum(cv) AS DOUBLE) / sum(n_tokens)) * 1e9
       |    + 0.5) / 1e9 AS retained_frac
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** The removal budget at BPE granularity — [[substringTrim]] under
    * SubstringDedupConfig.Bpe, completing the config matrix (both
    * operators x both granularities). What a 50-BPE-token trim pass
    * would delete is the number Lee et al. actually publish.
    */
  private def substringTrimBpe(s: SparkSession, dir: String): DataFrame =
    substringTrimWith(SubstringDedupConfig.Bpe)(s, dir)

  private val substringTrimBpeSql = {
    val k = SubstringDedupConfig.Bpe.k
    s"""WITH t AS (
       |  SELECT doc_id,
       |    replace(${TextAnalysis.bpeEncodeSql("text")}, ' ', '') AS enc
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |    md5(substring(enc, CAST(i AS INTEGER), $k)) AS g
       |  FROM t, unnest(range(1, length(enc) - $k + 2)) AS u(i)
       |  WHERE length(enc) >= $k),
       |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
       |m AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos)
       |        OVER (PARTITION BY doc_id ORDER BY pos) <= $k
       |      THEN 0 ELSE 1 END AS brk
       |  FROM g JOIN dup USING (g)),
       |isl AS (
       |  SELECT doc_id, pos, sum(brk) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM m),
       |cov AS (
       |  SELECT doc_id, sum(cv) AS covered_tokens FROM (
       |    SELECT doc_id, max(pos) - min(pos) + $k AS cv
       |    FROM isl GROUP BY doc_id, island)
       |  GROUP BY doc_id),
       |d AS (
       |  SELECT doc_id, length(enc) AS n_tokens, doc_id % 10 AS decile,
       |    coalesce(covered_tokens, 0) AS cv
       |  FROM t LEFT JOIN cov USING (doc_id))
       |SELECT decile, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(cv) AS BIGINT) AS covered_tokens,
       |  floor((1.0 - CAST(sum(cv) AS DOUBLE) / sum(n_tokens)) * 1e9
       |    + 0.5) / 1e9 AS retained_frac
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Leakage-safe train/test split — the fix for the eval-integrity
    * hole plain hash splitting leaves open: two NEAR-duplicates can
    * land in train and test, leaking training text into evaluation
    * even after a same-split dedup pass. Here the split is keyed on
    * the near-dup CLUSTER representative (connected components over
    * the verified MinHash pair graph; singletons represent
    * themselves), so an entire duplicate family moves as one unit and
    * no qualifying pair can ever straddle the boundary — by
    * construction, not by post-hoc filtering. Per split: docs,
    * distinct clusters, multi-doc clusters.
    *
    * Scale shape: the pair graph + star loop are the dd_components
    * machinery (bounded rounds, driver sees one scalar per round);
    * the split itself stays the same stateless md5 bucket as
    * cp_hash_split, just salted on the representative id — re-crawls
    * reassign identically as long as cluster membership is stable.
    */
  private def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    cachedMinhashPairs(s, dir).count()
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val pairs = cachedMinhashPairs(s2, dir).select(col("id_a"), col("id_b"))
    val comp = graft.dedup.ConnectedComponents.alternatingStars(pairs)
      .withColumnRenamed("node", "doc_id")
    val labeled = Tables(s, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("component"), col("doc_id")))
    val bucket = graft.corpus.CorpusPipeline.hashBucket("rep", "lsplit:", 100)
    labeled
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "validation")
          .otherwise("test"))
      .groupBy(col("split"), col("rep"))
      .agg(count(lit(1)).as("cluster_docs"))
      .groupBy(col("split"))
      .agg(sum(col("cluster_docs")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(when(col("cluster_docs") >= 2, 1L).otherwise(0L))
          .as("n_multi_clusters"))
      .orderBy(col("split"))
  }

  // components via the recursive reachability CTE (the
  // dd_minhash_clusters oracle), singletons fall back to their own id,
  // then the identical md5 bucket on the representative
  private val leakageSafeSplitSql =
    """WITH RECURSIVE pairs AS (
      |  WITH sh AS (
      |    SELECT doc_id,
      |      unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |    WHERE len(ws) >= 3),
      |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |  inter AS (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2)
      |  SELECT doc_a, doc_b FROM inter
      |    JOIN sizes sa ON doc_a = sa.doc_id
      |    JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5),
      |edges AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |walk AS (
      |  SELECT doc_a AS node, doc_a AS reach FROM edges
      |  UNION
      |  SELECT e.doc_a AS node, w.reach
      |  FROM edges e JOIN walk w ON e.doc_b = w.node),
      |labels AS (
      |  SELECT node AS doc_id, min(reach) AS component FROM walk
      |  GROUP BY node),
      |assigned AS (
      |  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS rep
      |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
      |split_docs AS (
      |  SELECT rep,
      |    CASE WHEN CAST(('0x' || substring(md5('lsplit:' ||
      |        CAST(rep AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 80
      |      THEN 'train'
      |      WHEN CAST(('0x' || substring(md5('lsplit:' ||
      |        CAST(rep AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < 90
      |      THEN 'validation' ELSE 'test' END AS split
      |  FROM assigned),
      |clusters AS (
      |  SELECT split, rep, count(*) AS cluster_docs
      |  FROM split_docs GROUP BY 1, 2)
      |SELECT split, CAST(sum(cluster_docs) AS BIGINT) AS n_docs,
      |  count(*) AS n_clusters,
      |  CAST(sum(CASE WHEN cluster_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_multi_clusters
      |FROM clusters GROUP BY split ORDER BY split""".stripMargin

  /** LSH design tuning — the analytic detection curve of the deployed
    * banding (b=32 bands × r=4 rows) evaluated against the observed
    * pair-similarity distribution: per Jaccard decile,
    * P(detect) = 1 − (1 − j⁴)³², the expected missed pairs, and the
    * observed count. This is the table an operator reads before
    * changing threshold or banding — "at j=0.5 the current scheme
    * catches 88%; the mass sits at 0.1 where it catches 0.3%" — and
    * the analytic justification for the LSH == exact-oracle contract
    * the dd_minhash_lsh gate enforces at threshold 0.5.
    *
    * Exactness: j is an exact int/int double; j⁴ and the power ^32
    * are explicit multiplication chains (j·j·j·j, then five
    * squarings), so both engines run the identical IEEE sequence —
    * no pow() transcendental drift; final display rounding at 9.
    */
  private def lshTuning(s: SparkSession, dir: String): DataFrame = {
    val j4 = pow4(col("jaccard"))
    val miss1 = lit(1.0) - j4 // per-band miss
    val missAll = sq(sq(sq(sq(sq(miss1))))) // ^32 by five squarings
    cachedScoredPairs(s, dir)
      .withColumn("j_decile",
        floor(col("jaccard") * 10).cast("int"))
      .withColumn("p_detect", lit(1.0) - missAll)
      .groupBy(col("j_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("p_detect")), 9).as("p_detect_min"),
        round(max(col("p_detect")), 9).as("p_detect_max"),
        sum(round(lit(1.0) - col("p_detect"), 9)
          .cast(DecimalType(28, 9))).cast("double")
          .as("expected_missed"))
      .orderBy(col("j_decile"))
  }

  private def sq(c: org.apache.spark.sql.Column) = c * c
  private def pow4(c: org.apache.spark.sql.Column) = c * c * c * c

  // the same multiplication chains spelled out in SQL; DECIMAL sum for
  // the order-independent expected-missed accumulation
  private val lshTuningSql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3),
      |hot AS (SELECT g FROM sh GROUP BY g HAVING count(*) > 64),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  WHERE a.g NOT IN (SELECT g FROM hot)
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS j
      |  FROM inter
      |    JOIN sizes sa ON doc_a = sa.doc_id
      |    JOIN sizes sb ON doc_b = sb.doc_id),
      |curve AS (
      |  SELECT j, CAST(floor(j * 10) AS INT) AS j_decile,
      |    m2 * m2 AS m32
      |  FROM (SELECT j, m8 * m8 AS m2 FROM (
      |    SELECT j, m4 * m4 AS m8 FROM (
      |      SELECT j, mm * mm AS m4 FROM (
      |        SELECT j, m * m AS mm FROM (
      |          SELECT j, 1.0 - j * j * j * j AS m FROM scored))))))
      |SELECT j_decile, count(*) AS n_pairs,
      |  round(min(1.0 - m32), 9) AS p_detect_min,
      |  round(max(1.0 - m32), 9) AS p_detect_max,
      |  CAST(sum(CAST(round(m32, 9) AS DECIMAL(28, 9))) AS DOUBLE)
      |    AS expected_missed
      |FROM curve GROUP BY j_decile ORDER BY j_decile""".stripMargin

  /** Content-defined chunking (CDC) + chunk-fingerprint dedup stats.
    * Instead of fixed-width chunks (which shift under any insertion and
    * defeat dedup), a chunk boundary falls after word i wherever the
    * hash of the trigram ending at i lands in a 1/16 bucket — the
    * word-level analogue of Gear/Rabin CDC over a fixed window, so
    * boundaries are a pure function of LOCAL content and re-align
    * after edits. End-of-doc always closes the last chunk. Each chunk
    * is fingerprinted (md5 of its text) and the per-source report
    * counts docs, chunks, distinct fingerprints and mean chunk width.
    *
    * Scale notes (100 TB): boundary detection is embarrassingly
    * parallel (the trigram hash needs only lag(1)/lag(2) inside the
    * per-doc window — docs are small, so per-doc windows partition
    * evenly); chunk assembly groups on (doc_id, chunk_id) — same key
    * space; only the final per-source rollup (4 groups) and the
    * distinct-fingerprint count shuffle globally, and the latter is
    * the standard two-level partial distinct. The trigram hash is the
    * cross-engine md5 bucket, exact on both sides.
    */
  private def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val pos = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("source"), size(col("ws")).as("n"),
        posexplode(col("ws")).as(Seq("i", "w")))
    val tri = concat_ws(" ", lag(col("w"), 2).over(byDoc),
      lag(col("w"), 1).over(byDoc), col("w"))
    val boundary = ((col("i") >= 2) &&
      conv(substring(md5(tri.cast("binary")), 1, 6), 16, 10)
        .cast("long") % 16 === 0) || (col("i") === col("n") - 1)
    val chunks = pos
      .withColumn("b", boundary.cast("int"))
      .withColumn("chunk_id", coalesce(
        sum(col("b")).over(byDoc
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("doc_id"), col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("nw"),
        md5(array_join(transform(
            array_sort(collect_list(struct(col("i"), col("w")))),
            p => p.getField("w")), " ").cast("binary")).as("fp"))
    chunks.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_unique_chunks"),
        (sum(col("nw")).cast("double") / count(lit(1)))
          .as("avg_chunk_words"))
      .orderBy(col("source"))
  }

  private val cdcChunksSql =
    """WITH pos AS (
      |  SELECT doc_id, source, len(ws) AS n,
      |    unnest(list_transform(range(1, len(ws)+1),
      |      i -> {'i': i - 1, 'w': ws[i],
      |            'tri': CASE WHEN i >= 3
      |              THEN ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i] END}))
      |      AS p
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
      |        FROM documents)),
      |marked AS (
      |  SELECT doc_id, source, p.i AS i, p.w AS w,
      |    CASE WHEN (p.tri IS NOT NULL AND
      |        CAST(('0x' || substring(md5(p.tri), 1, 6)) AS BIGINT)
      |          % 16 = 0) OR p.i = n - 1
      |      THEN 1 ELSE 0 END AS b
      |  FROM pos),
      |assigned AS (
      |  SELECT doc_id, source, i, w,
      |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS chunk_id
      |  FROM marked),
      |chunks AS (
      |  SELECT doc_id, source, chunk_id, count(*) AS nw,
      |    md5(string_agg(w, ' ' ORDER BY i)) AS fp
      |  FROM assigned GROUP BY doc_id, source, chunk_id)
      |SELECT source, count(DISTINCT doc_id) AS n_docs,
      |  count(*) AS n_chunks,
      |  count(DISTINCT fp) AS n_unique_chunks,
      |  CAST(sum(nw) AS DOUBLE) / count(*) AS avg_chunk_words
      |FROM chunks GROUP BY source ORDER BY source""".stripMargin

  /** Edit-distance near-dup pairs — the character-level modality the
    * token-set family (Jaccard/MinHash/SimHash) cannot see: pairs
    * within levenshtein ≤ 5 catch single-character corruption, OCR
    * noise, and small in-place edits that leave shingle sets almost
    * intact but matter for exact-match dedup policy.
    *
    * Candidates come from two equality bands — identical first-32 or
    * identical last-32 characters, with |length diff| ≤ 8 — so the
    * corpus joins on band keys (hash-partitioned equi-joins, never
    * n²), and the O(len²) DP verification runs only on candidates.
    * Approximate by design (an edit burst touching BOTH ends of a
    * document escapes both bands); the oracle runs the identical
    * band+verify algorithm, so the gate still hash-matches — the
    * knn_ivf contract. At 100 TB the band keys are the shuffle keys;
    * a hot prefix (boilerplate headers) would skew and production
    * would widen the band or salt it, exactly like the shingle index.
    */
  private def editDistance(s: SparkSession, dir: String): DataFrame =
    editDistancePairs(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      maxEd = 5)

  /** Factored core of dd_edit_distance over any (doc_id, text) frame —
    * driven by EditDistanceSpec against brute force on random corpora.
    */
  private[graft] def editDistancePairs(docsIn: DataFrame,
      maxEd: Int): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val banded = docs
      .withColumn("band", explode(array(
        concat(lit("p:"), substring(col("text"), 1, 32)),
        concat(lit("s:"), expr("substring(text, length(text) - 31, 32)")))))
      .filter(col("len") >= 32)
      .select(col("band"), col("doc_id"), col("text"), col("len"))
    // candidates as ID PAIRS only: the distinct shuffles 16 bytes per
    // pair instead of two full texts, and re-joining the texts
    // afterwards keeps the levenshtein verify ABOVE this boundary —
    // left on one DataFrame, Catalyst pushes the (deterministic)
    // levenshtein filter down into the band join's condition, where it
    // runs on every raw band-equal pair instead of the deduped
    // candidate set (measured 5.2 s vs 1.6 s at sf0.1)
    val candIds = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= 8)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    // thresholded levenshtein: banded O(maxEd·len) DP with early exit
    // (returns -1 past the bound) instead of the full O(len²) table —
    // the verify stage's cost per candidate drops ~len/maxEd-fold,
    // which is what makes a hot band (boilerplate prefix) survivable
    broadcast(candIds)
      .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")),
        "d1")
      .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")),
        "d2")
      .withColumn("ed", levenshtein(col("t1"), col("t2"), maxEd))
      .filter(col("ed") >= 0)
      .select(col("d1"), col("d2"), col("ed"))
      .orderBy(col("d1"), col("d2"))
  }

  private val editDistanceSql =
    """WITH banded AS (
      |  SELECT band, doc_id, text, length(text) AS len
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(['p:' || substring(text, 1, 32),
      |              's:' || substring(text, length(text) - 31, 32)])
      |        AS band
      |    FROM documents)
      |  WHERE length(text) >= 32),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |    a.text AS t1, b.text AS t2
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.doc_id < b.doc_id
      |   AND abs(a.len - b.len) <= 8)
      |SELECT d1, d2, levenshtein(t1, t2) AS ed
      |FROM cand WHERE levenshtein(t1, t2) <= 5
      |ORDER BY d1, d2""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("dd_edit_distance", editDistance, Some(editDistanceSql)),
    QueryDef("dd_cdc_chunks", cdcChunks, Some(cdcChunksSql)),
    QueryDef("dd_lsh_tuning", lshTuning, Some(lshTuningSql)),
    QueryDef("cp_leakage_safe_split", leakageSafeSplit,
      Some(leakageSafeSplitSql)),
    QueryDef("dd_containment", containment, Some(containmentSql)),
    QueryDef("dd_span_dupes", spanDupes, Some(spanDupesSql)),
    QueryDef("dd_substring_spans", substringSpans, Some(substringSpansSql)),
    QueryDef("dd_dupgram_fraction", dupgramFraction,
      Some(dupgramFractionSql)),
    QueryDef("dd_substring_spans_bpe", substringSpansBpe,
      Some(substringSpansBpeSql)),
    QueryDef("dd_substring_trim", substringTrim, Some(substringTrimSql)),
    QueryDef("dd_substring_trim_bpe", substringTrimBpe,
      Some(substringTrimBpeSql)),
    QueryDef("dd_source_mirror", sourceMirror, Some(sourceMirrorSql)),
    QueryDef("dd_source_mirror_agg", sourceMirrorAgg,
      Some(sourceMirrorAggSql)),
    QueryDef("dd_source_mirror_boiler", sourceMirrorBoiler,
      Some(sourceMirrorBoilerSql)),
    QueryDef("dd_prefix_jaccard", prefixJaccard, Some(jaccardSql)),
    QueryDef("dd_triangles", triangles, Some(trianglesSql)),
    QueryDef("dd_semdedup", semDedup, Some(semDedupSql)),
    QueryDef("dd_semdedup_trained", semDedupTrained,
      Some(semDedupTrainedSql)),
    QueryDef("dd_incremental", incremental, Some(incrementalSql)),
    QueryDef("evs_incremental_ingest", incrementalIngest,
      Some(incrementalIngestSql)),
    QueryDef("evs_ingest_multibatch", ingestMultibatch,
      Some(ingestMultibatchSql)),
    QueryDef("evs_ingest_compacted", ingestCompacted,
      Some(incrementalIngestSql)),
    QueryDef("dd_minhash_survivors", minhashSurvivors,
      Some(minhashSurvivorsSql)),
    QueryDef("dd_minhash_clusters", minhashClusters,
      Some(minhashClustersSql)),
    QueryDef("dd_cluster_weights", clusterWeights,
      Some(clusterWeightsSql)),
    QueryDef("dd_pair_pagerank", pairPagerank, Some(pairPagerankSql)),
    QueryDef("dd_jaccard_histogram", jaccardHistogram,
      Some(jaccardHistogramSql)),
    QueryDef("dd_simhash_clusters", simhashClusters,
      Some(simhashClustersSql)),
    QueryDef("dd_cluster_representatives", clusterRepresentatives,
      Some(clusterRepresentativesSql)),
    QueryDef("dd_components", components, Some(componentsSql)),
    QueryDef("dd_incremental_components", incrementalComponents,
      Some(componentsSql)),
    QueryDef("dd_modality_agreement", modalityAgreement,
      Some(modalityAgreementSql)),
    QueryDef("dd_exact", exact, Some(exactSql)),
    QueryDef("dd_exact_norm", exactNorm, Some(exactNormSql)),
    QueryDef("dd_chunk_exact", chunkExact, Some(chunkExactSql)),
    QueryDef("dd_ngram_jaccard", cachedJaccard, Some(jaccardSql)),
    QueryDef("dd_minhash_lsh", minhashLsh, Some(jaccardSql)),
    QueryDef("dd_bbit_minhash", bbitMinhash, Some(bbitMinhashSql)),
    QueryDef("dd_simhash", simhash, Some(simhashSql)),
    QueryDef("dd_simhash_hamming", cachedSimhashPairs,
      Some(simhashHammingSql)),
    QueryDef("dd_embedding_neardup", embeddingNearDup, Some(embeddingNearDupSql)))
}
