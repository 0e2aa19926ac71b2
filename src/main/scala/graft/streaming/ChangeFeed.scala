package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{AtomicPublish, Lake}

/** Exactly-once incremental consumption of a Lake table's row-level
  * change feed ([[Lake.changes]]) — the downstream half of the
  * reference's incremental-MV / CDC-subscription story, in the same
  * ledger shape as [[RoutineLoad]]: a tiny cursor file records the
  * last APPLIED version; each [[poll]] hands the consumer the
  * `changes(cursor, current)` retraction rows and advances the cursor
  * only AFTER the apply returns. The cursor is a pointer replaced
  * through [[AtomicPublish.replace]], so a reader sees the old or the
  * new value, never a torn or missing one. A crash between apply and
  * cursor commit replays the same (from, to] window — at-least-once
  * apply + an idempotent consumer (write state keyed by the `to`
  * version and pointer-swap, as the gate demonstrates) = exactly-once
  * state.
  *
  * Scale: each poll moves O(rows changed since the cursor) — the
  * feed is manifest-derived, so a poll against a 100 TB table that
  * ingested one batch reads one batch.
  *
  * Retention contract (the Delta-CDF constraint): a poll reads the
  * manifests and data files of every version in (cursor, current], so
  * [[Lake.vacuum]]'s `retainLast` must cover the slowest consumer's
  * lag — a cursor older than the retained window fails the poll
  * (missing manifest) rather than serving partial changes. */
object ChangeFeed {

  /** Last applied version, or None before the first poll. */
  def readCursor(spark: SparkSession, ledgerPath: String): Option[Long] =
    AtomicPublish.read(spark, new Path(ledgerPath))
      .map(b => new String(b, "UTF-8").trim.toLong)

  def commitCursor(spark: SparkSession, ledgerPath: String, v: Long): Unit =
    AtomicPublish.replace(spark, new Path(ledgerPath), v.toString.getBytes("UTF-8"))

  /** The poll discipline every source shares: read the cursor (or
    * `initialVersion`), compare it with `latest`, hand `apply` the
    * `changes` of (cursor, latest], then — unless `failBeforeCommit`
    * simulates a crash — advance the cursor. */
  private def pollWith(spark: SparkSession, ledgerPath: String,
      initialVersion: Long, failBeforeCommit: Boolean, latest: => Long,
      changes: (Long, Long) => DataFrame)(
      apply: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    val cursor = readCursor(spark, ledgerPath).getOrElse(initialVersion)
    val cur = latest
    if (cur <= cursor) return None
    apply(changes(cursor, cur), cursor, cur)
    if (failBeforeCommit)
      throw new IllegalStateException("simulated crash before cursor commit")
    commitCursor(spark, ledgerPath, cur)
    Some((cursor, cur))
  }

  /** One poll. `apply(changes, from, to)` receives the retraction
    * rows for (from, to]; the cursor advances to `to` only after it
    * returns. Returns the applied window, or None when the table has
    * nothing new. `initialVersion` seeds the cursor on the very first
    * poll (the version the consumer's baseline state was built at).
    * `failBeforeCommit` simulates a crash after the apply (test hook
    * for the replay proof). */
  def poll(spark: SparkSession, table: String, ledgerPath: String,
      initialVersion: Int = 1, failBeforeCommit: Boolean = false)(
      apply: (DataFrame, Int, Int) => Unit): Option[(Int, Int)] =
    pollWith(spark, ledgerPath, initialVersion, failBeforeCommit,
      Lake.currentVersion(spark, table),
      (from, to) => Lake.changes(spark, table, from.toInt, to.toInt)) {
      (changes, from, to) => apply(changes, from.toInt, to.toInt)
    }.map { case (from, to) => (from.toInt, to.toInt) }

  /** [[poll]] against a DELTA table (any writer's — this repo's
    * export or a foreign one): the same ledger discipline over
    * [[graft.sources.DeltaRead.changesCdf]], which serves writer-side
    * `_change_data` files when the commit carries `cdc` actions and
    * falls back to the action-derived feed otherwise. The cursor
    * stores the last applied DELTA version (0-based — seed
    * `initialVersion = 0` to start after the initial commit, whose
    * rows are the baseline, not changes). */
  def pollDelta(spark: SparkSession, table: String, ledgerPath: String,
      initialVersion: Int = 0, failBeforeCommit: Boolean = false)(
      apply: (DataFrame, Int, Int) => Unit): Option[(Int, Int)] =
    pollWith(spark, ledgerPath, initialVersion, failBeforeCommit,
      graft.sources.DeltaRead.versions(spark, table).last,
      (from, to) => graft.sources.DeltaRead.changesCdf(spark, table, from, to)) {
      (changes, from, to) => apply(changes, from.toInt, to.toInt)
    }.map { case (from, to) => (from.toInt, to.toInt) }

  /** [[poll]] against a PAIMON table: the same ledger discipline over
    * [[graft.sources.PaimonRead.changes]] (PK tables emit the
    * retraction contract; COMPACT commits contribute nothing). The
    * cursor stores the last applied SNAPSHOT id — seed
    * `initialVersion = 1` to treat snapshot 1 as the baseline. Snapshot
    * ids are Long end to end — a long-lived table outgrows Int. */
  def pollPaimon(spark: SparkSession, table: String, ledgerPath: String,
      initialVersion: Long = 1L, failBeforeCommit: Boolean = false)(
      apply: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] =
    pollWith(spark, ledgerPath, initialVersion, failBeforeCommit,
      graft.sources.PaimonRead.latestSnapshotId(spark, table),
      (from, to) => graft.sources.PaimonRead.changes(spark, table, from, to))(apply)
}
