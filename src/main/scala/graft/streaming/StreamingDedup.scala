package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.dedup.{CorpusIndex, EmbeddingIndex}
import graft.pipeline.{FsUtils, Store}
import graft.similarity.{EditJoin, JaroWinklerJoin}

/** Continuous corpus ingestion with near-dup gating — the streaming form
  * of [[CorpusIndex]]'s build/assign/append lifecycle: each micro-batch
  * of arriving documents is assigned against the PERSISTED corpus
  * indexes (exact sha2 match, else LSH-verified near match, else
  * batch-local novel closure), the decision is appended to a decisions
  * table, and the accepted novel representatives are appended to the
  * indexes — so the next micro-batch resolves against them. The corpus
  * itself is never re-shingled; per-batch cost is proportional to the
  * batch and its band collisions (measured flat-to-sublinear in corpus
  * size by IncrementalScaleProbe).
  *
  * Exactly the reference's nightly match-against-existing-entities run
  * (tcdb/etl/process_storms.py:84-138) made continuous, generalized to
  * near-duplicate text. */
object StreamingDedup {

  /** Watch `landing` for parquet document files and ingest them
    * micro-batch by micro-batch. `maxFilesPerTrigger=1` makes each file
    * one batch; `AvailableNow` drains the backlog then stops — the
    * deterministic replay shape the differential gate needs. */
  /** `compactEvery = Some(n)` folds the per-batch index and decision
    * file drops into one compacted generation after every n-th batch —
    * without it a long-running ingest grows one+ file per batch per
    * table without bound. Compaction runs INSIDE foreachBatch (the
    * single-writer window) and always excludes the current tag, so a
    * post-crash replay of this batch can still retract its own files
    * ([[CorpusIndex.compact]] documents the fencing argument). */
  def corpusIngest(spark: SparkSession, landing: String,
      schema: StructType, store: Store, prefix: String, checkpoint: String,
      textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxIter: Int = 20,
      decisionsTable: String = "decisions",
      compactEvery: Option[Int] = None): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val b = batch.transform(graft.pipeline.Checkpoints.stable) // distributed, lineage-truncated
        if (!b.isEmpty) {
          // foreachBatch is AT-LEAST-ONCE: a crash between the decision
          // write and the checkpoint commit replays this batch id. All
          // effects are therefore keyed by batch id and re-published,
          // not blindly appended — and any half-applied index files from
          // a previous attempt are purged BEFORE the assign, so the
          // replayed decision can't see (and self-match against) them.
          val tag = bid.toString
          CorpusIndex.clearBatch(store, prefix, tag)
          FsUtils.clearBatch(store.path(decisionsTable), tag)
          // pin the decision BEFORE mutating the indexes: the assign plan
          // reads the index parquet, and the accepted-set derivation must
          // see the pre-append decision, not a re-planned one
          val res = CorpusIndex.assign(store, prefix, b, textCol, idCol,
            shingleSize, numHashes, bands, threshold, maxIter)
            .transform(graft.pipeline.Checkpoints.stable)
          FsUtils.publishBatch(res, store.path(decisionsTable), tag)
          // accepted new corpus members = novel self-representatives; a
          // semi join keeps the size estimate at b's, so a batch that fits
          // the broadcast threshold appends without codegen
          val accepted = b.join(
            res.filter(col("matched") === "novel"
                && col("assigned") === col(idCol))
              .select(idCol), Seq(idCol), "left_semi")
          CorpusIndex.append(store, prefix, accepted, textCol, idCol, tag,
            shingleSize, numHashes, bands)
          compactEvery.foreach { n =>
            if ((bid + 1) % n == 0) {
              CorpusIndex.compact(store, prefix, excludeTags = Set(tag))
              store.compactBatched(decisionsTable, res.schema,
                excludeTags = Set(tag))
            }
          }
        }
        ()
      }
      .start()

  /** Continuous EMBEDDING ingestion with near-dup gating — the same
    * micro-batch lifecycle as [[corpusIngest]] over the vector modality:
    * each arriving batch of vectors is assigned against the persisted
    * [[EmbeddingIndex]] (best corpus match at cosine >= threshold, else
    * batch-local novel closure), the decision is published to a
    * decisions table, and the accepted novel representatives are
    * appended so the next batch resolves against them. Identical
    * replay-safety contract: every effect is keyed by batch id,
    * half-applied files of a crashed attempt are purged BEFORE the
    * assign, and the decision plan is pinned before the index mutates. */
  def vectorIngest(spark: SparkSession, landing: String,
      schema: StructType, store: Store, prefix: String, checkpoint: String,
      vecCol: String, idCol: String, threshold: Double,
      maxIter: Int = 20, decisionsTable: String = "vdecisions",
      compactEvery: Option[Int] = None): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val b = batch.transform(graft.pipeline.Checkpoints.stable)
        if (!b.isEmpty) {
          val tag = bid.toString
          EmbeddingIndex.clearBatch(store, prefix, tag)
          FsUtils.clearBatch(store.path(decisionsTable), tag)
          val res = EmbeddingIndex.assign(store, prefix, b, vecCol, idCol,
            threshold, maxIter).transform(graft.pipeline.Checkpoints.stable)
          FsUtils.publishBatch(res, store.path(decisionsTable), tag)
          val accepted = b.join(
            res.filter(col("matched") === "novel"
                && col("assigned") === col(idCol))
              .select(idCol), Seq(idCol))
          EmbeddingIndex.append(store, prefix, accepted, vecCol, idCol, tag)
          compactEvery.foreach { n =>
            if ((bid + 1) % n == 0) {
              EmbeddingIndex.compact(store, prefix, excludeTags = Set(tag))
              store.compactBatched(decisionsTable, res.schema,
                excludeTags = Set(tag))
            }
          }
        }
        ()
      }
      .start()

  /** Continuous FUZZY-STRING ingestion — the same micro-batch
    * lifecycle over the edit-distance modality
    * ([[graft.similarity.EditJoin]]'s persisted prefix index): each
    * arriving batch of short strings (titles, names) is decided against
    * the frozen index ('exact' at edit distance 0, 'near' within
    * `maxDist`, else batch-local 'novel' closure), the decision is
    * published to a decisions table, and the accepted novel
    * representatives are appended under the FROZEN build-time element
    * order — so the next micro-batch fuzzy-matches against them with no
    * corpus-side recompute. Identical replay-safety contract to
    * [[corpusIngest]]: every effect keyed by batch id, half-applied
    * files purged before the assign, decision pinned before the index
    * mutates. */
  def fuzzyIngest(spark: SparkSession, landing: String,
      schema: StructType, store: Store, name: String, checkpoint: String,
      strCol: String, idCol: String, maxDist: Int, q: Int = 2,
      maxIter: Int = 20,
      decisionsTable: String = "decisions"): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val b = batch.transform(graft.pipeline.Checkpoints.stable)
        if (!b.isEmpty) {
          val tag = bid.toString
          EditJoin.clearBatch(store, name, tag)
          FsUtils.clearBatch(store.path(decisionsTable), tag)
          val res = EditJoin.assignDecisions(store, name, b, idCol, strCol,
            maxDist, q, maxIter).transform(graft.pipeline.Checkpoints.stable)
          FsUtils.publishBatch(res, store.path(decisionsTable), tag)
          val accepted = b.join(
            res.filter(col("matched") === "novel"
                && col("assigned") === col(idCol))
              .select(idCol), Seq(idCol))
          EditJoin.appendToIndex(store, name, accepted, idCol, strCol, tag,
            maxDist, q)
        }
        ()
      }
      .start()

  /** Streaming name resolution over the persisted Jaro-Winkler index
    * ([[graft.similarity.JaroWinklerJoin]]) — the reference's nightly
    * match-or-create loop as a stream: each arriving batch of names is
    * decided against the frozen index ('exact' at jw 1.0, 'near' at
    * round-6 jw >= threshold, else batch-local 'novel' closure), the
    * decision is published, and accepted novel representatives are
    * appended (signatures/buckets are pure string functions, so
    * appended rows serve identically to build-time rows). Same
    * replay-safety contract as [[fuzzyIngest]]. */
  def jwIngest(spark: SparkSession, landing: String,
      schema: StructType, store: Store, name: String, checkpoint: String,
      strCol: String, idCol: String, threshold: Double,
      maxIter: Int = 20,
      decisionsTable: String = "decisions"): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val b = batch.transform(graft.pipeline.Checkpoints.stable)
        if (!b.isEmpty) {
          val tag = bid.toString
          JaroWinklerJoin.clearBatch(store, name, tag)
          FsUtils.clearBatch(store.path(decisionsTable), tag)
          val res = JaroWinklerJoin.assignDecisions(store, name, b, idCol,
            strCol, threshold, maxIter).transform(graft.pipeline.Checkpoints.stable)
          FsUtils.publishBatch(res, store.path(decisionsTable), tag)
          val accepted = b.join(
            res.filter(col("matched") === "novel"
                && col("assigned") === col(idCol))
              .select(idCol), Seq(idCol))
          JaroWinklerJoin.appendToIndex(store, name, accepted, idCol,
            strCol, tag, threshold)
        }
        ()
      }
      .start()
}
