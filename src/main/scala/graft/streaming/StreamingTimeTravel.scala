package graft.streaming

import graft.operators.TimeTravel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingest INTO a time-traveled base table: every micro-batch
  * lands as one ledgered commit through
  * [[graft.operators.TimeTravel.appendCommit]], so the table's as-of
  * read ([[graft.operators.TimeTravel.readEventsAsOf]]) can replay the
  * stream's history at any commit boundary — the base-table analogue
  * of `StreamingRetrieval.startIngest`'s postings-index folds, closing the
  * time-travel lifecycle the same way every index kind's is closed
  * (build / grow / delete / serve / as-of / streaming).
  *
  * Exactly-once under replay via the epoch-namespaced commitId scheme
  * of `StreamingDedup.startDeletes`: a fresh checkpoint must not let
  * batchId 0 collide with an OLD stream's committed commit 0 (which
  * would silently short-circuit the fold), so commitIds are
  * `(epoch << 32) | batchId` with the epoch minted once per
  * checkpoint above every committed fold id. A redelivered batchId
  * maps to its original commitId and no-ops.
  */
object StreamingTimeTravel {

  def startAppend(rows: DataFrame, root: String,
      checkpoint: String): StreamingQuery = {
    // + 0L: the seed load IS commit 0 without a ledger entry, so the
    // minted epoch must clear it — otherwise a fresh stream's first
    // batch would land at commitId 0 and TIE the seed's versions in
    // the reader's per-key struct-max resolution. allLedgerIds (not
    // foldedBatches) so committed DELETE and refresh ids count too:
    // the as-of contract is ONE monotonic sequence, and an epoch
    // minted below an existing d<n> would let new appends sort before
    // that delete — a horizon between them would serve deleted rows.
    val epoch = StreamingDedup.epochFor(rows, checkpoint,
      TimeTravel.protocol(root).allLedgerIds() + 0L)
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) // empty-batch suppression (K3)
          TimeTravel.appendCommit(batch, root, (epoch << 32) | batchId)
        ()
      }
      .start()
  }

  /** [[startAppend]] with RETENTION: after each committed batch, if
    * more than `retainCommits` ledger ids are committed, vacuum the
    * table at the `retainCommits`-th newest id — so a long-running
    * hourly ingest (the reference's own cadence) holds a bounded
    * as-of window instead of unbounded small-dir growth, the
    * `startIngest(compactEvery)` pattern applied to the time-travel
    * ledger. The vacuum is ledger-gated and replay-idempotent (a
    * redelivered batch re-runs a committed-no-op vacuum), and recent
    * horizons stay exactly as-of-readable; only horizons older than
    * the window refuse.
    */
  def startAppendRetained(rows: DataFrame, root: String,
      checkpoint: String, retainCommits: Int,
      vacuumEvery: Int = 8): StreamingQuery = {
    require(retainCommits >= 1, "retention window must keep >= 1 commit")
    val epoch = StreamingDedup.epochFor(rows, checkpoint,
      TimeTravel.protocol(root).allLedgerIds() + 0L)
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) { // empty-batch suppression (K3)
          TimeTravel.appendCommit(batch, root, (epoch << 32) | batchId)
          // Vacuum on a cadence, not per batch: each vacuum rewrites
          // the resolved state once (read c_prev + the window's
          // batches, write c_new), so every-batch runs would make
          // ingest O(table) per micro-batch — the compactEvery
          // convention of StreamingRetrieval.startIngest (any postings kind).
          val ids = TimeTravel.protocol(root).allLedgerIds().toSeq
            .sorted(Ordering[Long].reverse)
          if (vacuumEvery > 0 && batchId % vacuumEvery == vacuumEvery - 1
              && ids.length > retainCommits)
            TimeTravel.vacuum(batch.sparkSession, root,
              ids(retainCommits - 1))
        }
        ()
      }
      .start()
  }

  /** [[startAppend]] with CONTINUOUS REPLICATION: after each committed
    * micro-batch the replica catches up through
    * [[graft.operators.TimeTravel.mirrorCommits]] — the ledger replay
    * is idempotent and resume-safe, so a crash between the commit and
    * the mirror just re-applies on the next batch (or the next
    * [[graft.operators.TimeTravel.mirrorCommits]] call, batch or
    * streamed: the replica never needs to know WHO syncs it). Every
    * source horizon becomes a replica horizon as it lands — the
    * hot-standby shape: consumers time-travel the replica while the
    * primary keeps ingesting.
    */
  def startAppendMirrored(rows: DataFrame, root: String,
      replica: String, checkpoint: String): StreamingQuery = {
    val epoch = StreamingDedup.epochFor(rows, checkpoint,
      TimeTravel.protocol(root).allLedgerIds() + 0L)
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) { // empty-batch suppression (K3)
          TimeTravel.appendCommit(batch, root, (epoch << 32) | batchId)
          TimeTravel.mirrorCommits(batch.sparkSession, root, replica)
        }
        ()
      }
      .start()
  }

  /** [[startAppend]] for a stream carrying a WIDENED table shape —
    * batches land through
    * [[graft.operators.TimeTravel.appendCommitEvolved]], so a restart
    * of the ingest under an add-column schema change keeps committing
    * (old horizons keep the old shape, the stream's commits serve the
    * new one), and the add-column-only guard still fails a batch that
    * would DROP a committed column rather than ledger it. Epoch scheme
    * identical to [[startAppend]].
    */
  def startAppendEvolved(rows: DataFrame, root: String,
      checkpoint: String): StreamingQuery = {
    val epoch = StreamingDedup.epochFor(rows, checkpoint,
      TimeTravel.protocol(root).allLedgerIds() + 0L)
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) // empty-batch suppression (K3)
          TimeTravel.appendCommitEvolved(batch, root,
            (epoch << 32) | batchId)
        ()
      }
      .start()
  }
}
