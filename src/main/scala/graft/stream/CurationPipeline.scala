package graft.stream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming corpus curation — "clean the crawl as it lands": the
  * LLM-pipeline counterpart of the market pipelines, completing the
  * streaming story for the curation surface. Documents arrive as a
  * stream of (doc_id, text); each micro-batch runs the SAME batch
  * kernel the offline funnel uses ([[graft.ext.Curation.curateStream]]
  * — Gopher rules + classifier banding, pure per-row, no state) and
  * survivors land partitioned by band, so reviewers tail `band=review/`
  * while training jobs read `band=keep/`.
  *
  * Two forms, one kernel:
  *  - [[curated]] — the pure streaming TRANSFORM (stateless: the plan
  *    carries no StateStore, pinned in CurationStreamSpec), composable
  *    before any sink and upstream of the watermark-bounded exact
  *    dedup ([[IngestDedup]]) when a pipeline wants both.
  *  - [[curatedParquetSink]] — the foreachBatch MICRO-PIPELINE (the
  *    [[CdcApply]] batch-kernel pattern): per batch, apply the kernel
  *    and append survivors to band-partitioned parquet. foreachBatch
  *    rather than a plain parquet sink because production curation
  *    wants per-batch side effects next to the write (survivor-count
  *    accounting, the [[graft.ext.Funnel]] increment row) — the seam
  *    where those bolt on.
  *
  * Scale shape: identical to the batch kernel — one map-only stage,
  * whole-stage codegen, scales with input splits; the only
  * non-codegen'd expressions are the Gopher HOFs, the same cost the
  * batch gate pays. CurationStreamSpec pins the stateless plan and
  * the band-partitioned output.
  */
object CurationPipeline {

  /** The stateless streaming transform: survivors with their flag and
    * score columns. `docs` needs (doc_id, text). */
  def curated(docs: DataFrame): DataFrame =
    graft.ext.Curation.curateStream(docs)

  /** The foreachBatch micro-pipeline: per micro-batch, run the batch
    * kernel and append survivors to `path` partitioned by band. The
    * writer is returned un-started ([[Sinks]]' lifecycle convention). */
  def curatedParquetSink(docs: DataFrame, path: String,
                         checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.Curation.curateStream(batch)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").partitionBy("band").parquet(path)
      }
}
