package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.{IndexBuilder, IndexConfig, Snapshot, SnapshotMeta}

/** Incremental corpus ingestion: the reference's upsert-then-reindex model
  * (datastore S4-S7: writes land in the live store, a reindex + alias swap
  * publishes them — SURVEY.md §2.11) expressed as Structured Streaming.
  *
  * The managed corpus lives at `<storeDir>/corpus` (append-only parquet);
  * each micro-batch appends its rows and commits a NEW index snapshot, so
  * readers always see either the previous or the next complete generation —
  * never a half-built index. Failure between corpus-append and snapshot
  * commit is safe: the pointer still names the old generation, and the next
  * batch's delta picks up the appended rows (buildDelta skips keys that
  * already landed).
  *
  * Scale: batches after the first land as DELTA generations with
  * manifest-union reads (IndexBuilder.buildDelta). Only the postings are
  * O(batch): stages 1, 2 and 5 still scan the base generations' docs and
  * dictionary, so a delta's cost grows with the base. The delta chain is
  * auto-compacted into a full rebuild once it exceeds `maxDeltaChain`
  * generations, bounding per-query segment fan-in.
  */
object StreamingIngest {

  def corpusDir(storeDir: String) = s"$storeDir/corpus"

  /** Append a batch of corpus rows and publish a new snapshot — a delta
    * generation on an existing index, a full build otherwise, a compaction
    * when the delta chain is long.
    */
  def appendBatch(spark: SparkSession, storeDir: String,
      batch: DataFrame, cfg: IndexConfig = IndexConfig(),
      maxDeltaChain: Int = 16, vacuumKeepLast: Int = -1): SnapshotMeta = {
    batch.select("repo", "path", "commit", "lang", "content")
      .write.mode(SaveMode.Append).parquet(corpusDir(storeDir))
    def fullCorpus = spark.read
      .schema("repo string, path string, commit string, lang string, content string")
      .parquet(corpusDir(storeDir))
      .dropDuplicates("repo", "path", "commit")
    val meta = Snapshot.load(storeDir)
      .filter(_.formatVersion == Snapshot.CurrentFormatVersion) match {
      case Some(prev) if prev.allVersions.length < maxDeltaChain =>
        // delta over the FULL managed corpus, not just this batch: rows a
        // crashed batch appended before its snapshot commit are still
        // unindexed, and buildDelta's anti-join on already-indexed keys
        // reduces the work to exactly the missing rows
        IndexBuilder.buildDelta(fullCorpus, storeDir, cfg)
      case _ =>
        // first build, stale format, or compaction point: full rebuild
        IndexBuilder.build(fullCorpus, storeDir, cfg)
    }
    // optional GC: after a compaction the old delta chain is unreachable
    // from `current`; vacuumKeepLast >= 0 reclaims it (keeping that many
    // historical generations for in-flight readers). Default -1 = never
    // delete — retention is the operator's call (Snapshot.vacuum scaladoc).
    if (vacuumKeepLast >= 0) Snapshot.vacuum(storeDir, vacuumKeepLast): Unit
    meta
  }

  /** Attach a streaming source: every micro-batch lands as one snapshot
    * generation. `Trigger.AvailableNow` drains the backlog and stops —
    * the batch-refresh pattern; pass a processing-time trigger for
    * continuous ingestion.
    */
  def start(spark: SparkSession, storeDir: String, source: DataFrame,
      cfg: IndexConfig = IndexConfig(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    source.writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$storeDir/checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        appendBatch(spark, storeDir, batch, cfg): Unit
      }
      .start()
  }

  def currentVersion(storeDir: String): Option[Int] =
    Snapshot.currentVersion(storeDir)
}
