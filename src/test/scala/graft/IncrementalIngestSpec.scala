package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Multi-batch semantics of the streaming ingest gate
  * (`graft.streaming.IncrementalIngest` → `evs_incremental_ingest`):
  * what distinguishes ACCEPTED-SET screening from corpus-wide dedup is
  * that only keepers enter the state a later arrival is screened
  * against. The synthetic corpus below pins both directions on a real
  * two-micro-batch Structured Streaming run (files written between
  * `processAllAvailable()` calls — the late-data-drop staging
  * pattern):
  *
  *  - a batch-2 doc that copies a batch-1 KEEPER is dropped, even
  *    though the keeper has a LARGER id (accepted-side matching is
  *    id-order-free — arrival order, not id order, decides);
  *  - a batch-2 doc that is a genuine near-dup of a batch-1 REJECT
  *    survives, because rejects never enter the accepted set and
  *    Jaccard is not transitive (the doc is NOT a near-dup of what
  *    the reject matched). Corpus-wide pairing would have dropped it.
  *
  * This is the ingest-gate analogue of a late-arrival test: the same
  * document text produces a different verdict depending on which
  * micro-batch it arrives in.
  */
class IncrementalIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("accepted-set screening across micro-batches: keepers screen," +
      " rejects don't") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    // word-3-gram shingle sets (ShingleK = 3):
    //   seed A (doc 0):  "a b c d"            -> {abc, bcd}
    //   R (doc 1, b1):   "a b c d e"          -> {abc, bcd, cde}
    //                    J(R, A) = 2/3 >= 0.5      -> REJECTED (near 0)
    //   K (doc 5, b1):   "x y z w v"          -> unique -> KEPT
    //   C (doc 3, b2):   = K's text           -> exact dup of keeper 5
    //                    (5 > 3: id order must not matter) -> REJECTED
    //   Q (doc 7, b2):   "a b c d e f g"      -> {abc..efg} (5)
    //                    J(Q, A) = 2/6 < 0.5; J(Q, R) = 3/5 >= 0.5 but
    //                    R was rejected             -> KEPT
    Seq(
      (0L, "a b c d", "en", "s", 7L),
      (1L, "a b c d e", "en", "s", 9L),
      (5L, "x y z w v", "en", "s", 9L),
      (3L, "x y z w v", "en", "s", 9L),
      (7L, "a b c d e f g", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val out = SparkEntry.queries("evs_incremental_ingest")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getBoolean(3), r.getInt(4)))
      .toMap

    assert(out.keySet == Set(1L, 5L, 3L, 7L))
    // R: near-dup of the seed, first batch
    assert(out(1L) == ((None, Some(0L), false, 1)))
    // K: unique keeper
    assert(out(5L) == ((None, None, true, 1)))
    // C: dropped by the batch-1 keeper despite the larger id
    val (exactOf3, nearOf3, keep3, b3) = out(3L)
    assert(exactOf3 == Some(5L) && nearOf3 == Some(5L) && !keep3 && b3 == 2)
    // Q: near-dup ONLY of the reject R -> survives the gate
    assert(out(7L) == ((None, None, true, 2)))
  }

  test("compacting artifact deltas is screening-invariant") {
    import spark.implicits._
    import graft.dedup.IncrementalDedup
    val work = java.nio.file.Files.createTempDirectory("graft_compact")
    def docsDf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
    // two disjoint accepted deltas, as IncrementalIngest publishes them
    IncrementalDedup.save(IncrementalDedup.artifacts(
      docsDf(0L -> "a b c d", 2L -> "p q r s t"), "doc_id", "text"),
      s"$work/d0")
    IncrementalDedup.save(IncrementalDedup.artifacts(
      docsDf(4L -> "x y z w v u"), "doc_id", "text"), s"$work/d1")
    val batch = docsDf(9L -> "a b c d e", 11L -> "k l m n o p")
    def verdicts(a: IncrementalDedup.Artifacts) =
      IncrementalDedup.screen(batch, a, "doc_id", "text")
        .collect().map(_.toString).sorted.toSeq
    val viaDeltas = verdicts(
      Seq(s"$work/d0", s"$work/d1").map(p => IncrementalDedup.load(spark, p))
        .reduce((x, y) => IncrementalDedup.Artifacts(
          x.keys.unionByName(y.keys))))
    val viaCompacted = verdicts(IncrementalDedup.compact(spark,
      Seq(s"$work/d0", s"$work/d1"), s"$work/compacted"))
    assert(viaDeltas.nonEmpty && viaCompacted == viaDeltas)

    // retry anomaly: the SAME delta listed twice (a double-publish).
    // Raw union would double every posting and mis-count bucket
    // intersections; compaction's distinct restores single-publish
    // state, so screening equals the clean-chain result exactly.
    val viaDoubled = verdicts(IncrementalDedup.compact(spark,
      Seq(s"$work/d0", s"$work/d0", s"$work/d1"), s"$work/compacted2"))
    assert(viaDoubled == viaDeltas)

    // never overwrite published state in place
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.compact(spark,
        Seq(s"$work/d0"), s"$work/compacted")
    }
    assert(e.getMessage.contains("already exists"))

    // mid-compaction crash: a stale half-written .compact-tmp from a
    // killed run must not poison the retry — it is rebuilt and the
    // atomic rename publishes a complete artifact
    val stale = java.nio.file.Paths.get(s"$work/compacted3.compact-tmp")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.writeString(stale.resolve("garbage"), "partial")
    val viaRetry = verdicts(IncrementalDedup.compact(spark,
      Seq(s"$work/d0", s"$work/d1"), s"$work/compacted3"))
    assert(viaRetry == viaDeltas)
    assert(!java.nio.file.Files.exists(stale), "tmp must not linger")
  }

  test("evs_ingest_compacted: live mid-stream compaction leaves every " +
    "verdict identical to the uncompacted ingest") {
    val dir = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).toSeq // both orderBy doc_id
    val plain = rows("evs_incremental_ingest")
    val compacted = rows("evs_ingest_compacted")
    assert(plain.nonEmpty && compacted == plain)
  }

  test("ingest: the default split is doc_id % 4 with one verdict per " +
    "odd doc; a 5-batch chain is cadence-invariant") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.IncrementalIngest
    val dir = "/root/testdata/sf0.001"
    def ingest(nBatches: Int, compactEvery: Int) = IncrementalIngest.ingest(
      spark, dir, threshold = 0.5, shingleK = 3, maxShingleDf = 64,
      nBatches = nBatches, compactEvery = compactEvery).collect().toSeq
    // the split the evs_incremental_ingest oracle is written against:
    // batch 1 = doc_id % 4 == 1, batch 2 = doc_id % 4 == 3
    val two = IncrementalIngest.ingest(spark, dir, threshold = 0.5,
      shingleK = 3, maxShingleDf = 64, compactEvery = 2).collect().toSeq
    val oddDocs = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 1).select(col("doc_id")).collect()
      .map(_.getAs[Number](0).longValue).sorted.toSeq
    assert(oddDocs.nonEmpty && two.map(_.getLong(0)) == oddDocs,
      "every odd doc has exactly one verdict")
    two.foreach { r =>
      val (id, b) = (r.getLong(0), r.getInt(4))
      assert((b == 1) == (id % 4 == 1) && (b == 2) == (id % 4 == 3),
        s"doc $id arrived in batch $b")
    }
    // five real micro-batches: compacting every 3 deltas must leave
    // every verdict identical to the never-compacted chain
    val n5raw = ingest(nBatches = 5, compactEvery = 0).map(_.toString)
    val n5cad = ingest(nBatches = 5, compactEvery = 3).map(_.toString)
    assert(n5raw.nonEmpty && n5cad == n5raw)
    // the N-batch split changes WHICH verdicts arise (arrival order
    // matters by design), but every odd doc gets exactly one verdict
    assert(n5raw.size == two.size)
  }
}
