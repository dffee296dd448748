package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.StagedFixture
import graft.dedup.IncrementalDedup

/** Structured-Streaming integration of the incremental ingest gate —
  * how `graft.dedup.IncrementalDedup` actually runs on a live crawl:
  * documents arrive as micro-batches, each batch is screened against
  * the PERSISTED accepted-set artifacts, the batch's keepers are
  * merged in, and the next batch screens against the grown set.
  *
  * `foreachBatch` is the right sink: the screen is a batch join
  * against large persisted state (far beyond keyed-state-store
  * territory), and foreachBatch hands each micro-batch to exactly that
  * batch machinery while the streaming engine handles arrival,
  * ordering, and checkpointing.
  *
  * Artifacts are persisted as DELTAS (`d0` = the seed, `dN` = batch
  * N's keepers only; a reader unions the deltas): each batch WRITES
  * O(batch) and never rewrites the corpus-sized accepted set — the
  * LSM shape every growing index uses. Periodic compaction of old
  * deltas (the production maintenance job) is `compactEvery`:
  * IncrementalDedup.compact folds the chain into one equivalent
  * artifact between batches, atomically. Publishing a
  * new delta directory is atomic, nothing is overwritten in place, and
  * a failed batch can re-screen against the deltas it started from
  * (effectively-once verdicts under retries).
  *
  * Scale shape (inherited from IncrementalDedup.screen): accepted
  * postings are semi-joined down to the batch's shingle footprint
  * before anything shuffles, so per-batch cost is bounded by the
  * BATCH, not the corpus — the property that makes continuous ingest
  * viable at 100 TB. Verdicts append to a parquet sink per batch, the
  * natural audit log of an ingest gate.
  */
object IncrementalIngest {

  /** Run the ingest simulation over the fixture: the even docs are the
    * pre-accepted seed corpus; odd docs arrive in `nBatches` real
    * micro-batches split by ((doc_id − 1) div 2) mod nBatches — for
    * the default nBatches = 2 that is doc_id % 4 == 1, then % 4 == 3.
    * The batch boundary is deterministic and scale-free, so a SQL
    * oracle can replay every stage exactly. Files are written between
    * `processAllAvailable()` calls, so the arrival split is a real
    * multi-batch stream (the late-data-drop staging pattern), not a
    * replayed single batch.
    *
    * Each batch runs the plain batch loop, one stage after the
    * other: compact the chain if due, screen and pin the verdicts,
    * write the audit log, publish the keeper delta.
    *
    * Returns one verdict row per odd doc: (doc_id, exact_of, near_of,
    * keep, arrival_batch). A later doc that duplicates an earlier
    * batch's KEEPER is dropped; one that duplicates only an earlier
    * REJECT is kept (rejects never enter the accepted set) — the
    * semantics that distinguish accepted-set screening from
    * corpus-wide dedup.
    *
    * The seed delta and the arrival file sets are pure functions of
    * the fixture, staged once per JVM through [[graft.StagedFixture]]
    * (content-stamped keys); the mutable per-run state (verdict log,
    * later deltas, arrival directory) is always fresh.
    *
    * @param compactEvery when > 0, compact at the start of a batch once
    *   the published-delta count reaches it: all current deltas merge
    *   into one (IncrementalDedup.compact — row distinct, atomic
    *   publish) and the batch screens against the single compacted
    *   artifact. Doing it at batch START means a crash between batches
    *   leaves the raw chain authoritative, and the run's final delta
    *   is never folded into an artifact nothing reads. 0 = never
    *   compact (deltas accumulate; the read cost grows with batch
    *   count — fine for a bounded run, the maintenance job at 100 TB
    *   ingest).
    */
  def ingest(spark: SparkSession, dir: String,
      threshold: Double, shingleK: Int, maxShingleDf: Int,
      nBatches: Int = 2, compactEvery: Int = 0): DataFrame = {
    require(nBatches >= 1, s"ingest: nBatches=$nBatches must be >= 1")
    // cloned session: caller's conf untouched (the EventStream
    // convention). The shuffle width is INHERITED, not narrowed: the
    // screen's bucket pair expansion is compute-bound (interpreted
    // HOFs over collect_list buckets), and pinning it to 8 partitions
    // left 3/4 of a 32-core box idle on the hot stage — measured at
    // sf0.1: warm screen+write 2.20 s at width 8 vs 1.67 s at 32,
    // cold 4.92 s vs 2.23 s. (A join-based pair expansion was also
    // measured — 3.32 s vs the HOF's 1.63: more shuffles, no win.)
    // AQE stays ON in the clone: an r22 A/B (3 reps, 32 cores)
    // measured AQE-off at 45 jobs but 509 tasks / ~115 s summed task
    // time vs AQE-on's 59 jobs / 99 tasks / ~15 s — fixed 32-wide
    // shuffles replicate the bucket-expansion work across mostly-empty
    // tasks, and the fewer job boundaries don't pay for it.
    val ss = spark.newSession()
    val docs = graft.Tables(ss, dir, "documents")

    // seed: even docs accepted wholesale, persisted as delta d0
    val seed = StagedFixture.dir(StagedFixture.key(
        s"ingest_seed_k$shingleK", dir), "graft_ingest_seed") { st =>
      IncrementalDedup.save(IncrementalDedup.artifacts(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        shingleK), st)
    }
    // one batch-partitioned pass stages every arrival file set; the
    // data files carry exactly docs.schema (the partition column stays
    // in the directory name)
    val stage = StagedFixture.dir(StagedFixture.key(
        s"ingest_arrivals_n$nBatches", dir), "graft_ingest_arrivals") { st =>
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .withColumn("b",
          (pmod(expr("(doc_id - 1) div 2"), lit(nBatches)) + 1).cast("int"))
        .coalesce(1).write.mode("overwrite")
        .partitionBy("b").parquet(s"$st/stage")
    }

    val work = Files.createTempDirectory("graft_ingest")
    val out = try {
      val arrivals = work.resolve("arrivals")
      Files.createDirectories(arrivals)
      // the persisted accepted set = union of all published deltas
      var deltaPaths = Vector(seed)
      // audit/delta/compaction dir names come from an ingested-batch
      // counter, NOT deltaPaths.size — compaction collapses the path
      // list, and a size-derived name would collide with an earlier
      // batch's dir
      var batchNo = 0
      // each batch's pinned verdict blocks, folded into the result
      // after the stream stops — the blocks ARE what the audit log was
      // written from, so the union equals a read-back of the verdict
      // log without re-listing and re-scanning it
      val verdictFrames =
        scala.collection.mutable.ArrayBuffer.empty[DataFrame]

      val q = ss.readStream
        .schema(docs.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(arrivals.toString)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val s2 = batch.sparkSession
            val sc = s2.sparkContext
            batchNo += 1
            if (compactEvery > 0 && deltaPaths.size >= compactEvery) {
              sc.setJobDescription(s"ingest: compact b$batchNo")
              val p = work.resolve(s"compacted_b$batchNo").toString
              IncrementalDedup.compact(s2, deltaPaths, p)
              deltaPaths = Vector(p)
            }
            sc.setJobDescription(s"ingest: screen b$batchNo")
            val accepted = deltaPaths.map(IncrementalDedup.load(s2, _))
              .reduce((x, y) => IncrementalDedup.Artifacts(
                x.keys.unionByName(y.keys)))
            val (verdicts, bKeys) = IncrementalDedup.screenWithKeys(
              batch, accepted, "doc_id", "text", threshold, shingleK,
              maxShingleDf, ordered = false)
            // batch identity derived from the deterministic split, so
            // the verdict log is stable however the source batches
            val v = verdicts
              .withColumn("arrival_batch",
                (pmod(expr("(id - 1) div 2"), lit(nBatches)) + 1).cast("int"))
              .localCheckpoint() // screen executes ONCE
            // the audit log partitions BY BATCH, so any later per-batch
            // audit scans O(batch), never the whole log
            sc.setJobDescription(s"ingest: audit b$batchNo")
            v.write.parquet(work.resolve(s"verdicts/b$batchNo").toString)
            // publish ONLY this batch's keepers as the next delta —
            // O(batch) written; the delta rows are the screen's own
            // pinned batch postings filtered to the keepers (row-for-row
            // what re-expanding the kept docs would produce, minus the
            // re-scan)
            sc.setJobDescription(s"ingest: publish b$batchNo")
            val next = work.resolve(s"artifacts_d$batchNo").toString
            IncrementalDedup.save(IncrementalDedup.Artifacts(
              bKeys.join(v.filter(col("keep")).select(col("id").as("doc_id")),
                col("id") === col("doc_id"), "left_semi")), next)
            deltaPaths :+= next
            verdictFrames += v
            sc.setJobDescription(null)
          }
        }
        .start()
      // an arrival = the staged batch's part files, copied between
      // processAllAvailable() calls so it arrives as its own
      // micro-batch; a batch empty at tiny scale factors stages no
      // partition dir, so the stream sees one fewer micro-batch.
      // stop() joins the stream thread, so verdictFrames is safe to
      // read afterwards.
      try for (b <- 1 to nBatches) {
        val stageDir = java.nio.file.Paths.get(stage, "stage", s"b=$b")
        if (Files.isDirectory(stageDir))
          Arrivals.copyIn(stageDir, arrivals, s"b$b")
        q.processAllAvailable()
      } finally q.stop()

      require(verdictFrames.nonEmpty,
        s"ingest: no micro-batch arrived from $dir — fixture too small " +
          "to stage any arrival batch")
      verdictFrames.reduce(_.unionByName(_))
        .select(col("id").as("doc_id"), col("exact_of"), col("near_of"),
          col("keep"), col("arrival_batch"))
        // materialize before the run's staging (arrivals + deltas +
        // verdict log) is deleted; pinned pre-sort so the terminal
        // order-by stays lazy like every other query's
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
    out.orderBy(col("doc_id"))
  }
}
